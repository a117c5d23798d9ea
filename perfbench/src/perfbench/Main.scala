package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: builds one workload's seeded inputs, warms up,
  * runs the closed loop for the given seconds, checks outputs outside the
  * timed region, and writes one JSON record (plus the span file when
  * traced). `run.py` launches it and prints the result.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --sf <tpch dir> --work <work dir> --out <record.json>
  * }}}
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")

    val spark = graft.GraftSession.builder("perfbench")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = new Trace(spark, traced)
    val wl: Workload = workload match {
      case "report_avro" => new ReportAvro(spark, trace, opt("sf"), s"$work/report", seed)
      case "curate_ingest" => new CurateIngest(spark, trace, opt("sf"), s"$work/ingest", seed)
      case "query_mix" => new QueryMix(spark, trace, opt("sf"), s"$work/mix", seed)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

    def phase[T](name: String)(body: => T): T = {
      val s = System.nanoTime()
      try body finally System.err.println(f"[perfbench] $name ${(System.nanoTime() - s) / 1e9}%.2f s")
    }
    val inputs = phase("generate")(wl.generate())
    phase("warm-up")(wl.warmUp())
    val setupEndMs = System.currentTimeMillis()

    val times = mutable.ArrayBuffer.empty[Double]
    val items = mutable.ArrayBuffer.empty[Double]
    var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var i = 0
    while (i < wl.maxOps && (System.nanoTime() < deadline || i % wl.roundSize != 0)) {
      trace.run(s"op-$i")
      val s = System.nanoTime()
      try {
        val n = wl.op(i)
        times += (System.nanoTime() - s) / 1e9
        items += n.toDouble
        wl.afterOp(i)
      } catch {
        case NonFatal(e) =>
          failed += 1
          errors += s"op $i: ${e.getClass.getName}: ${e.getMessage}"
          e.printStackTrace()
      }
      i += 1
    }
    val measured = (System.nanoTime() - t0) / 1e9
    trace.drain()

    val checks = try phase("checks")(wl.checks(i) ++ (if (traced) wl.bypassChecks(trace) else Nil)) catch {
      case NonFatal(e) =>
        e.printStackTrace()
        Seq(Check("checks", ok = false, s"${e.getClass.getName}: ${e.getMessage}", i))
    }
    val wrong = math.min(i - failed, checks.filterNot(_.ok).map(_.wrongOps).sum)
    val lat = wl.latencies(times.toSeq)
    val (tail, tailPct, tailBeyond) =
      if (lat.nonEmpty) Stats.tail(lat) else (Double.NaN, Double.NaN, 0)
    // the median round's rate: a stall of the shared disk or host in one
    // round moves the mean rate, not the median
    val rates = wl.perRound(items.toSeq).zip(wl.perRound(times.toSeq)).map { case (n, t) => n / t }
    val e2e = if (lat.isEmpty) Map.empty[String, Double] else Map(
      "items_per_s" -> (if (rates.nonEmpty) Stats.median(rates) else items.sum / times.sum),
      "op_s.p50" -> Stats.median(lat),
      "ops.tail_s" -> tail,
      "ops.growth" -> Stats.growth(wl.perRound(times.toSeq)),
      "ops.ok_ratio" -> (i - failed - wrong).toDouble / math.max(1, i),
      "mem.peak_mb" -> Stats.peakRssMb)
    val perLayer = if (traced && lat.nonEmpty)
      sparkLayer(trace, wl.opSpan) ++ wl.perLayer(trace) ++ e2e.view.filterKeys(Set("ops.tail_s", "ops.growth")).toMap
    else Map.empty
    val named = if (lat.nonEmpty) wl.named(e2e, times.toSeq).map { case (k, (v, u)) =>
      k -> Map("value" -> v, "unit" -> u) } else Map.empty

    if (traced) {
      val spanFile = s"$work/spans.json"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(spanFile),
        Stats.render(Map("spans" -> trace.dump(),
          "unattributed_jobs" -> trace.unattributedJobs)))
    }
    val record = Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "cpus" -> spark.sparkContext.defaultParallelism,
      "setup_end_ms" -> setupEndMs, "measured_s" -> measured,
      "attempted" -> i, "failed" -> failed, "wrong" -> wrong,
      "errors" -> errors.take(5), "checks" -> checks.map(c =>
        Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "op_times_s" -> times, "latencies_s" -> lat,
      "tail_percentile" -> tailPct, "tail_beyond" -> tailBeyond,
      "inputs" -> inputs, "end_to_end" -> e2e, "named" -> named,
      "per_layer" -> perLayer) ++ wl.extra
    wl.close()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")), Stats.render(record))
    spark.stop()
  }

  /** The `spark.*` layer: Spark work per timed op, from the listener counts
    * attributed to each op's top-level span. */
  private def sparkLayer(t: Trace, opSpan: String): Map[String, Double] = {
    val ops = t.timed(opSpan)
    if (ops.isEmpty) return Map.empty
    val aggs = ops.map(t.sparkOf)
    val n = ops.size.toDouble
    def per(f: SparkAgg => Long): Double = aggs.map(f).sum / n
    Map(
      "spark.jobs" -> per(_.jobs),
      "spark.stages" -> per(_.stages),
      "spark.tasks" -> per(_.tasks),
      "spark.executor_run_s" -> per(_.runMs) / 1000.0,
      "spark.driver_gap_s" -> ops.map(t.driverGapMs).sum / n / 1000.0,
      "spark.shuffle_read_bytes" -> per(_.shuffleRead),
      "spark.shuffle_write_bytes" -> per(_.shuffleWrite),
      "spark.spill_bytes" -> per(_.spill),
      "spark.input_bytes" -> per(_.input))
  }
}
