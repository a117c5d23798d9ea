package perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail of `xs`: the highest percentile that still has at least ten
    * samples beyond it, i.e. the (n-10)th order statistic. Below 21 samples
    * that percentile is not above the median, and the maximum stands in.
    * Returns (value, percentile, samples beyond it). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n <= 20) (s.last, 100.0, 0)
    else (s(n - 11), 100.0 * (n - 10) / n, 10)
  }

  /** Late ÷ early: the median of the last k ops over the median of the
    * first k, k = min(3, n/2) — how the per-op cost drifts as the run's
    * state (store history, caches) grows. */
  def growth(xs: Seq[Double]): Double = {
    val k = math.max(1, math.min(3, xs.size / 2))
    median(xs.takeRight(k)) / median(xs.take(k))
  }

  def toJson(v: Any): JValue = v match {
    case null => JNull
    case j: JValue => j
    case s: String => JString(s)
    case b: Boolean => JBool(b)
    case i: Int => JInt(i)
    case l: Long => JInt(l)
    case d: Double => if (d.isNaN || d.isInfinite) JNull else JDouble(d)
    case f: Float => JDouble(f.toDouble)
    case m: scala.collection.Map[_, _] =>
      JObject(m.toList.map { case (k, x) => JField(k.toString, toJson(x)) })
    case s: Iterable[_] => JArray(s.toList.map(toJson))
    case o: Option[_] => o.map(toJson).getOrElse(JNull)
    case other => JString(other.toString)
  }

  def render(v: Any): String = JsonMethods.compact(JsonMethods.render(toJson(v)))

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  /** Bytes and regular files under `dir`. */
  def diskUsage(dir: java.io.File): (Long, Long) =
    if (!dir.exists()) (0L, 0L)
    else if (dir.isFile) (dir.length(), 1L)
    else dir.listFiles().toSeq.map(diskUsage).foldLeft((0L, 0L)) {
      case ((b, f), (b2, f2)) => (b + b2, f + f2)
    }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
