#!/usr/bin/env python3
"""The repo's benchmark. Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source (perfbench/build.py), then
runs one JVM that generates the workload's seeded inputs from the TPC-H-like
tables in $SPARK_GRAFT_SF_DIR (default ~/testdata/sf0.1), warms up, measures
a closed loop for --seconds, and checks its outputs outside the timed region.
The last stdout line is one JSON object: correct, attempted, failed and the
metrics BENCHMARK.json names (end_to_end with --trace 0, per_layer with
--trace 1). The exit code is 0 only for a correct run. See perfbench/README.md.
"""
import argparse
import glob
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing beside the sources
import build  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR",
                        os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))
DEADLINE_S = 170  # the whole run, build excluded, must end well within 180 s
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + [
    x for p in ["java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io",
                "java.base/java.net", "java.base/java.nio", "java.base/java.util",
                "java.base/java.util.concurrent",
                "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
                "java.base/sun.nio.cs", "java.base/sun.security.action",
                "java.base/sun.util.calendar"]
    for x in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def run_jvm(cmd, env, deadline):
    """Run the benchmark JVM in its own process group; kill the group and
    wait for it if it outlives `deadline` (monotonic seconds)."""
    proc = subprocess.Popen(cmd, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def table(title, rows):
    print(title)
    for name, value, unit in rows:
        v = f"{value:.6g}" if isinstance(value, (int, float)) else str(value)
        print(f"  {name:<44} {v:>14} {unit}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        log(f"unknown workload {a.workload}")
        return 2
    if not os.path.isdir(SF_DIR):
        log(f"no input tables at {SF_DIR}: set SPARK_GRAFT_SF_DIR")
        return 2
    out_dir = os.path.join(root, ".bench_build")
    os.makedirs(out_dir, exist_ok=True)
    try:
        classes = build.build(root, out_dir)
    except RuntimeError as e:
        log(f"build failed: {e}")
        return 2

    started = time.monotonic()
    work = os.path.join(out_dir, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    record_path = os.path.join(work, "record.json")
    cpus = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    env.pop("SPARK_MASTER", None)
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"), "-cp",
            classes + os.pathsep + os.path.join(build.spark_jars(), "*"), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--sf", SF_DIR, "--work", work, "--out", record_path])
    spawn_ms = time.time() * 1000.0
    try:
        code = run_jvm(cmd, env, started + DEADLINE_S)
        log(f"[run.py] JVM ended after {time.monotonic() - started:.1f} s")
        if code != 0 or not os.path.exists(record_path):
            log(f"benchmark JVM failed (exit {code})")
            return 3
        with open(record_path) as f:
            rec = json.load(f)

        checks = rec["checks"]
        wrong = rec["wrong"]
        if a.workload == "query_mix":
            mix = os.path.join(work, "mix")
            for name, ok, detail in check_oracle(root, os.path.join(mix, "data"),
                                                 os.path.join(mix, "dump"), rec["inputs"]["sample"],
                                                 os.path.join(work, "tmp"), started + DEADLINE_S):
                checks.append({"name": f"oracle.{name}", "ok": ok, "detail": detail})
                if not ok:
                    wrong += rec["runs_per_query"].get(name, 0)
        results_dir = os.path.join(out_dir, "results")
        os.makedirs(results_dir, exist_ok=True)
        attempted = rec["attempted"]
        wrong = min(wrong, attempted - rec["failed"])
        failed = rec["failed"] + wrong
        correct = failed == 0 and all(c["ok"] for c in checks) and attempted > 0

        e2e = dict(rec["end_to_end"])
        e2e["setup_s"] = (rec["setup_end_ms"] - spawn_ms) / 1000.0
        if attempted:
            e2e["ops.ok_ratio"] = (attempted - failed) / attempted

        for c in checks:
            if not c["ok"]:
                log(f"CHECK FAILED {c['name']}: {c['detail']}")
        for err in rec["errors"]:
            log(f"OP FAILED {err}")

        print(f"workload {a.workload}  seed {a.seed}  cpus {rec['cpus']}  "
              f"traced {bool(a.trace)}  ops {attempted}  measured {rec['measured_s']:.2f} s  "
              f"tail = p{rec['tail_percentile']:.0f} ({rec['tail_beyond']} samples beyond)")
        print("inputs " + json.dumps(rec["inputs"], sort_keys=True))
        print(f"checks {sum(c['ok'] for c in checks)}/{len(checks)} passed")
        for c in checks:
            print(f"  {'ok  ' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}")
        units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
        table("end-to-end", [(m["name"], e2e.get(m["name"], float("nan")), m["unit"])
                             for m in spec["end_to_end"]])
        table(f"end-to-end, as named for {a.workload}",
              [(k, v["value"], v["unit"]) for k, v in sorted(rec["named"].items())])

        shutil.copy(record_path, os.path.join(
            results_dir, f"{a.workload}-{a.seed}-trace{a.trace}.record.json"))
        if a.trace:
            layer = {m["name"]: float(rec["per_layer"].get(m["name"], 0.0))
                     for m in spec["per_layer"]}
            table("per-layer (traced run)",
                  [(k, v, units[k]) for k, v in layer.items() if v != 0.0])
            print(f"  ({sum(v == 0.0 for v in layer.values())} more read 0: "
                  "layers this workload does not touch)")
            shutil.copy(os.path.join(work, "spans.json"),
                        os.path.join(results_dir, f"{a.workload}-{a.seed}.spans.json"))
            base = untraced_baseline(results_dir, a.workload, a.seed)
            if base is None:
                print("tracing overhead: no untraced run of this workload in this checkout yet")
            else:
                table(f"tracing overhead: traced minus untraced ({base['_file']})",
                      [(k, e2e[k] - base["metrics"][k], units[k])
                       for k in base["metrics"] if k in e2e])
            metrics = {k: {"value": v, "unit": units[k]} for k, v in layer.items()}
        else:
            with open(os.path.join(results_dir, f"{a.workload}-{a.seed}.json"), "w") as f:
                json.dump({"metrics": e2e, "inputs": rec["inputs"]}, f)
            metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                       for m in spec["end_to_end"] if m["name"] in e2e}
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0 if correct else 1
    except subprocess.TimeoutExpired:
        log(f"benchmark exceeded {DEADLINE_S} s")
        return 4
    finally:
        t = time.monotonic()
        shutil.rmtree(work, ignore_errors=True)
        log(f"[run.py] whole run {time.monotonic() - started:.1f} s, "
            f"of which removing the work dir {time.monotonic() - t:.1f} s")


def check_oracle(root, data_dir, dump_dir, sample, cwd, deadline):
    """Run the repo's DuckDB oracle (scripts/check_oracle.py) over the
    sampled queries' dumps. Returns [(query, ok, detail)], one per sampled
    query; a query the script reports no OK line for is a failed check."""
    cmd = ["python3", os.path.join(root, "scripts", "check_oracle.py"), data_dir, dump_dir]
    try:
        proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                              timeout=max(1.0, deadline - time.monotonic()))
        out = proc.stdout
    except subprocess.TimeoutExpired as e:
        out = e.stdout.decode() if isinstance(e.stdout, bytes) else (e.stdout or "")
    lines = {}
    for line in out.splitlines():
        m = re.match(r"(OK|FAIL|ERROR)\s+([^\s:]+)", line)
        if m:
            lines[m.group(2)] = (m.group(1) == "OK", line.strip())
    return [(q, *lines.get(q, (False, "no result from scripts/check_oracle.py")))
            for q in sample]


def untraced_baseline(results_dir, workload, seed):
    """The untraced record of the same workload, same seed if there is one,
    else the newest."""
    same = os.path.join(results_dir, f"{workload}-{seed}.json")
    cands = [same] if os.path.exists(same) else sorted(
        glob.glob(os.path.join(results_dir, f"{workload}-*[0-9].json")),
        key=os.path.getmtime)[-1:]
    if not cands:
        return None
    with open(cands[0]) as f:
        base = json.load(f)
    base["_file"] = os.path.basename(cands[0])
    return base


if __name__ == "__main__":
    sys.exit(main())
