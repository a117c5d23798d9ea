package perfbench

/** One output check, made outside the timed region. `wrongOps` is how many
  * timed ops the check covers, so a failed check counts them as wrong. */
final case class Check(name: String, ok: Boolean, detail: String, wrongOps: Int = 0)

/** A closed-loop workload: one client thread issues the next op only after
  * the previous one has completed. */
trait Workload {
  /** Build the seeded inputs; returns their sizes for the output record. */
  def generate(): Map[String, Any]

  /** Ops run before the timed region, so JIT, caches and stores are warm. */
  def warmUp(): Unit

  /** Ops per round (a report rotation, a query-mix pass): the timed loop
    * only stops on a round boundary. */
  def roundSize: Int = 1

  /** Upper bound on timed ops (the generator made only so many inputs). */
  def maxOps: Int = Int.MaxValue

  /** Name of the span that wraps one op in a traced run. */
  def opSpan: String

  /** Run op `i` of the timed loop; returns the input items it processed. */
  def op(i: Int): Long

  /** Housekeeping after op `i`, outside the op's time. */
  def afterOp(i: Int): Unit = ()

  /** Output checks over what the timed ops produced. */
  def checks(opsRun: Int): Seq[Check]

  /** Traced runs: checks that the layers this workload should bypass
    * recorded no work. */
  def bypassChecks(trace: Trace): Seq[Check] = Nil

  /** Per-op values (times, items) summed per complete round; round times
    * are the series `ops.growth` compares. */
  def perRound(xs: Seq[Double]): Seq[Double] =
    xs.grouped(roundSize).filter(_.size == roundSize).map(_.sum).toSeq

  /** The latencies `op_s.p50` and `ops.tail_s` summarize: one per op. */
  def latencies(times: Seq[Double]): Seq[Double] = times

  /** Workload-specific fields for the output record. */
  def extra: Map[String, Any] = Map.empty

  /** End-to-end figures under this workload's own names, with units, for
    * the printed table. */
  def named(e2e: Map[String, Double], times: Seq[Double]): Map[String, (Double, String)]

  /** Per-layer metrics from the traced run. */
  def perLayer(trace: Trace): Map[String, Double]

  /** Free the inputs and any state the workload holds. */
  def close(): Unit = ()
}
