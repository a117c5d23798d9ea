package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, V2CommandExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: a call into one layer, timed on the wall clock (ms
  * since the epoch, so it lines up with Spark listener event times). */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    start: Double, var end: Double = Double.NaN)

/** Spark work attributed to one span: the enclosing span id travels to the
  * scheduler as the local property [[Trace.SpanKey]]. */
final class SparkAgg {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
}

/** Plan facts read from one successful query execution. */
final case class PlanFacts(ops: Int, inCodegen: Int, interpretedKernels: Int,
    protoScans: Int, protoRowsGated: Long, protoRowsOut: Long)

/** Streaming micro-batch progress: trigger wall and its addBatch part. */
final case class BatchProgress(triggerMs: Long, addBatchMs: Long)

/** Spans kept in memory plus the listener counts, written out at exit.
  * With `enabled = false` every method is a pass-through: the untraced run
  * registers no listener and records nothing. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var runId = ""

  private val aggs = new java.util.concurrent.ConcurrentHashMap[Int, SparkAgg]()
  private def agg(span: Int): SparkAgg = aggs.computeIfAbsent(span, _ => new SparkAgg)
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Double)]()

  /** Plan facts and stream progress since the last [[takeFacts]]. */
  private val facts = new java.util.concurrent.ConcurrentLinkedQueue[PlanFacts]()
  private val batches = new java.util.concurrent.ConcurrentLinkedQueue[BatchProgress]()

  private object JobListener extends SparkListener {
    private def spanOf(p: java.util.Properties): Int =
      Option(p).flatMap(x => Option(x.getProperty(Trace.SpanKey)))
        .map(_.toInt).getOrElse(-1)
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOf(e.properties)
      jobStart.put(e.jobId, (s, e.time.toDouble))
      e.stageIds.foreach(id => stageSpan.put(id, s))
      agg(s).synchronized { agg(s).jobs += 1 }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (s, st) =>
        agg(s).synchronized { agg(s).jobIntervals += ((st, e.time.toDouble)) }
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val s = stageSpan.getOrDefault(e.stageInfo.stageId, spanOf(e.properties))
      agg(s).synchronized { agg(s).stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = agg(stageSpan.getOrDefault(e.stageId, -1))
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        if (m != null) {
          a.runMs += m.executorRunTime
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.input += m.inputMetrics.bytesRead
        }
      }
    }
  }

  private object PlanListener extends QueryExecutionListener {
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
      facts.add(Trace.planFacts(qe.executedPlan))
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
  }

  private object StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      batches.add(BatchProgress(ms("triggerExecution"), ms("addBatch")))
    }
  }

  if (enabled) {
    sc.addSparkListener(JobListener)
    spark.listenerManager.register(PlanListener)
    spark.streams.addListener(StreamListener)
  }

  /** Name the op that the following spans belong to. */
  def run(id: String): Unit = runId = id

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.getOrElse(-1), runId, nowMs)
      spans += s
      stack = s.id :: stack
      sc.setLocalProperty(Trace.SpanKey, s.id.toString)
      try body
      finally {
        s.end = nowMs
        stack = stack.tail
        sc.setLocalProperty(Trace.SpanKey, stack.headOption.map(_.toString).orNull)
      }
    }

  /** Flush the listener bus (traced runs only). */
  def drain(): Unit = if (enabled) org.apache.spark.perfbench.Drain.listeners(sc)

  def takeFacts(): Seq[PlanFacts] = { drain(); Trace.drainQueue(facts) }
  def takeBatches(): Seq[BatchProgress] = { drain(); Trace.drainQueue(batches) }

  /** Spans named `name` recorded inside the timed loop's ops. */
  def timed(name: String): Seq[Span] =
    spans.filter(s => s.name == name && s.runId.startsWith("op-")).toSeq

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Spans around work the benchmark adds to attribute time (`bench.*`:
    * counts, checkpoints): their jobs are not the engine's, so they count
    * in no enclosing span. */
  private def isBench(s: Span): Boolean = s.name.startsWith("bench.")
  private def subtree(id: Int): Seq[Int] =
    id +: children(id).filterNot(isBench).flatMap(c => subtree(c.id))
  private def benchUnder(id: Int): Seq[Span] =
    children(id).flatMap(c => if (isBench(c)) Seq(c) else benchUnder(c.id))

  /** Spark counts of a span and everything under it but `bench.*` spans. */
  def sparkOf(span: Span): SparkAgg = {
    val out = new SparkAgg
    subtree(span.id).flatMap(i => Option(aggs.get(i))).foreach { a =>
      a.synchronized {
        out.jobs += a.jobs; out.stages += a.stages; out.tasks += a.tasks
        out.runMs += a.runMs; out.shuffleRead += a.shuffleRead
        out.shuffleWrite += a.shuffleWrite; out.spill += a.spill
        out.input += a.input; out.jobIntervals ++= a.jobIntervals
      }
    }
    out
  }

  /** Span wall time covered neither by its Spark jobs nor by `bench.*`
    * spans under it: the engine's driver-only work. */
  def driverGapMs(span: Span): Double = {
    val ivs = (sparkOf(span).jobIntervals ++ benchUnder(span.id).map(b => (b.start, b.end)))
      .map { case (a, b) => (math.max(a, span.start), math.min(b, span.end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    ivs.foreach { case (a, b) =>
      if (cs.isNaN || a > ce) {
        if (!cs.isNaN) covered += ce - cs
        cs = a; ce = b
      } else ce = math.max(ce, b)
    }
    if (!cs.isNaN) covered += ce - cs
    (span.end - span.start) - covered
  }

  /** Every span with its own Spark counts, for the span file. */
  def dump(): Seq[Map[String, Any]] = spans.toSeq.map { s =>
    val a = Option(aggs.get(s.id)).getOrElse(new SparkAgg)
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.runId,
      "start_ms" -> s.start, "end_ms" -> s.end, "jobs" -> a.jobs,
      "stages" -> a.stages, "tasks" -> a.tasks, "executor_run_ms" -> a.runMs,
      "shuffle_read_bytes" -> a.shuffleRead, "shuffle_write_bytes" -> a.shuffleWrite,
      "spill_bytes" -> a.spill, "input_bytes" -> a.input)
  }

  /** Spark work run outside any span (session housekeeping, generation). */
  def unattributedJobs: Long = Option(aggs.get(-1)).map(_.jobs).getOrElse(0L)
}

object Trace {
  val SpanKey = "perfbench.span"

  private def drainQueue[A](q: java.util.concurrent.ConcurrentLinkedQueue[A]): Seq[A] = {
    val out = mutable.ArrayBuffer.empty[A]
    var x = q.poll()
    while (x != null) { out += x; x = q.poll() }
    out.toSeq
  }

  private def isGraftKernel(e: Expression): Boolean =
    e.getClass.getName.startsWith("graft.functions.")

  /** Walk an executed plan: physical operators that compute (not leaves,
    * exchanges, write commands or adaptive/codegen wrappers), how many of them sit inside a
    * WholeStageCodegen stage, graft kernels evaluated without codegen, and
    * the proto source's row-gate metrics. */
  def planFacts(root: SparkPlan): PlanFacts = {
    var ops, inCg, interp, protoScans = 0
    var gated, out = 0L
    def walk(p: SparkPlan, inside: Boolean): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inside)
      case q: QueryStageExec => walk(q.plan, inside)
      case w: WholeStageCodegenExec => walk(w.child, inside = true)
      case i: InputAdapter => walk(i.child, inside = false)
      case _: ReusedExchangeExec => ()
      case m: InMemoryTableScanExec =>
        walk(m.relation.cachedPlan, inside = false)
      case b: BatchScanExec =>
        if (b.scan.description().startsWith("graft-proto")) {
          protoScans += 1
          gated += b.metrics.get("rowsGated").map(_.value).getOrElse(0L)
          out += b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        }
      case e: Exchange => e.children.foreach(walk(_, inside = false))
      case c: V2CommandExec => c.children.foreach(walk(_, inside = false))
      case c: DataWritingCommandExec => c.children.foreach(walk(_, inside = false))
      case _: LeafExecNode => ()
      case other =>
        val kernels = other.expressions.flatMap(_.collect {
          case k if isGraftKernel(k) => k
        })
        ops += 1
        if (inside) inCg += 1
        interp += kernels.count(k => !inside || k.isInstanceOf[CodegenFallback])
        other.children.foreach(walk(_, inside))
    }
    walk(root, inside = false)
    PlanFacts(ops, inCg, interp, protoScans, gated, out)
  }
}
