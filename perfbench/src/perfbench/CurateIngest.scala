package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{NearDupIndex, NgramLmStore, QualityProbeStore, SubstrIndex}
import graft.plan.CurationConfig

/** `curate_ingest`: a store-backed ingest loop. Setup seeds four persisted
  * stores from a salted history batch; each op is one cycle that runs a
  * `CurationConfig` pipeline under its own runId over the next batch —
  * fresh salted docs plus planted verbatim copies and near-copies of
  * earlier cycles' docs — gating against the stores and appending to
  * them, so their history grows cycle by cycle. */
final class CurateIngest(spark: SparkSession, trace: Trace, sfDir: String,
    work: String, seed: Long) extends Workload {
  import spark.implicits._

  private val Cycles = 24
  private val SeedDocs = 800
  private val Fresh = 160
  private val Verbatim = 24
  private val Near = 24
  private val InBatch = 12
  private val WarmCycles = 2
  /** Cycles the same-seed check replays: the seed round and the first gate
    * cycle, which gates against store history as the timed ones do. Two
    * keep the run inside its time budget. */
  private val ReplayCycles = 2

  private val inDir = s"$work/in"
  private val stageNames = Seq("where", "exact_dedup", "substr_gate",
    "neardup_gate", "lm_gate", "probe_gate")
  private val stores = Seq("substr" -> "ss", "neardup" -> "nd", "lm" -> "lm", "probe" -> "qp")

  private val runDir = s"$work/main"
  /** Store directory of the same-seed replay, made after the timed loop. */
  private val replayDir = s"$work/replay"
  private def pipelineIn(dir: String) = CurationConfig.parse(
    s"""{"table": "docs", "id": "doc_id", "text": "text", "stages": [
       |  {"stage": "where", "expr": "length(text) >= 80"},
       |  {"stage": "exact_dedup"},
       |  {"stage": "substr_gate", "path": "$dir/ss", "k": 8, "maxDupWindows": 0},
       |  {"stage": "neardup_gate", "path": "$dir/nd"},
       |  {"stage": "lm_gate", "path": "$dir/lm", "loMicro": 20000},
       |  {"stage": "probe_gate", "path": "$dir/qp"}]}""".stripMargin)
  private val pipeline = pipelineIn(runDir)

  /** Planted copies: (copy id, source id). */
  private val verbatim = mutable.Map.empty[Int, Seq[(Long, Long)]]
  private val inBatch = mutable.Map.empty[Int, Seq[Long]]
  private val batchDocs = mutable.Map.empty[Int, Long]

  def generate(): Map[String, Any] = {
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
      .map(_._2.split(" ").filter(_.nonEmpty))
    val vocab = corpus.flatten.distinct.sorted
    val rng = new java.util.SplittableRandom(seed)
    val all = mutable.ArrayBuffer.empty[(Long, String)]
    val rows = mutable.ArrayBuffer.empty[(Int, Long, String)]
    // a fresh doc: a base doc's tokens in a seeded order, so no 8-token
    // window repeats another doc's and the token mix stays the corpus's
    def fresh(): String = {
      val t = corpus(rng.nextInt(corpus.length)).clone()
      var i = t.length - 1
      while (i > 0) { val j = rng.nextInt(i + 1); val x = t(i); t(i) = t(j); t(j) = x; i -= 1 }
      t.mkString(" ")
    }
    (0 to Cycles).foreach { c =>
      val id0 = c * 1000000L
      val docs = mutable.ArrayBuffer.empty[(Long, String)]
      val nFresh = if (c == 0) SeedDocs else Fresh
      (0 until nFresh).foreach(k => docs += ((id0 + k, fresh())))
      if (c > 0) {
        val earlier = all.toIndexedSeq
        verbatim(c) = (0 until Verbatim).map { k =>
          val (src, text) = earlier(rng.nextInt(earlier.size))
          docs += ((id0 + 100000 + k, text)); (id0 + 100000 + k, src)
        }
        (0 until Near).foreach { k =>
          val text = earlier(rng.nextInt(earlier.size))._2
          docs += ((id0 + 200000 + k, text + " " + vocab(rng.nextInt(vocab.length))))
        }
        inBatch(c) = (0 until InBatch).map { k =>
          docs += ((id0 + 300000 + k, docs(k)._2)); id0 + 300000 + k
        }
      }
      all ++= docs.take(nFresh)
      batchDocs(c) = docs.size.toLong
      rows ++= docs.map { case (id, text) => (c, id, text) }
    }
    rows.toSeq.toDF("cycle", "doc_id", "text").repartition(1)
      .write.partitionBy("cycle").parquet(inDir)
    Map("cycles" -> Cycles, "seed_docs" -> batchDocs(0),
      "docs_per_cycle" -> batchDocs(1), "docs_total" -> batchDocs.values.sum,
      "input_bytes" -> Stats.diskUsage(new java.io.File(inDir))._1,
      "planted_verbatim_per_cycle" -> Verbatim, "planted_near_per_cycle" -> Near,
      "planted_in_batch_per_cycle" -> InBatch)
  }

  private def batch(c: Int): DataFrame =
    spark.read.parquet(inDir).filter(col("cycle") === c).drop("cycle")

  /** Survivor ids of each cycle, read back once. */
  private val survivors = mutable.Map.empty[Int, Array[Long]]

  private def runCycle(c: Int): Unit = {
    val runId = s"c$c"
    val kept =
      if (!trace.enabled) pipeline.applyStages(batch(c), runDir, Some(runId))
      else pipeline.stages.zip(stageNames).zipWithIndex.foldLeft(batch(c)) {
        case (d, ((st, name), i)) =>
          val in = trace.span("bench.count") { d.count() }
          val o = trace.span(s"plan.curation.stage.$name") {
            st.applyIn(runDir)(d, pipeline.idCol, pipeline.textCol, Some(s"cfg:$runId:s${i + 1}"))
          }
          // materialized outside the stage span, so the next stage's span
          // holds only that stage's own work
          val out = trace.span("bench.checkpoint") {
            o.queryExecution.analyzed match {
              case _: org.apache.spark.sql.execution.LogicalRDD => o
              case _ => o.localCheckpoint(true)
            }
          }
          if (i == stageNames.size - 1) stageCounts(name) += ((in, trace.span("bench.count")(out.count())))
          else stageCounts(name) += ((in, -1L))
          out
      }
    trace.span("cycle.write_survivors") {
      kept.write.mode("overwrite").parquet(s"$runDir/out/c$c")
    }
  }

  /** Cycles 0..`c` again, from empty stores in their own directory, through
    * `applyStages`: each cycle's sorted survivor ids. */
  private def replay(c: Int): Map[Int, Array[Long]] = {
    val p = pipelineIn(replayDir)
    (0 to c).map { k =>
      k -> p.applyStages(batch(k), replayDir, Some(s"c$k")).select("doc_id").as[Long]
        .collect().sorted
    }.toMap
  }

  // traced runs: (rows in, rows out) per stage and cycle; the out count of a
  // stage is the next stage's in count
  private val stageCounts = mutable.Map(stageNames.map(_ -> mutable.ArrayBuffer.empty[(Long, Long)]): _*)

  private def readSurvivors(c: Int): Array[Long] =
    survivors.getOrElseUpdate(c,
      spark.read.parquet(s"$runDir/out/c$c").select("doc_id").as[Long].collect().sorted)

  /** The seed round, then the first gate cycles, so the timed cycles start
    * with warm code paths against a store that has history. */
  def warmUp(): Unit = {
    (0 to WarmCycles).foreach(runCycle)
    stageNames.foreach(stageCounts(_).clear())
  }

  override def maxOps: Int = Cycles - WarmCycles
  def opSpan: String = "cycle"

  def op(i: Int): Long = {
    val c = i + WarmCycles + 1
    trace.span("cycle")(runCycle(c))
    if (trace.enabled) stores.foreach { case (store, dir) =>
      trace.span(s"ext.store.open.$store") {
        val path = s"$runDir/$dir"
        store match {
          case "substr" => SubstrIndex.open(spark, path).stats
          case "neardup" => NearDupIndex.open(spark, path).stats
          case "lm" => NgramLmStore.open(spark, path).stats
          case "probe" => QualityProbeStore.open(spark, path)
        }
      }
    }
    batchDocs(c)
  }

  private var lastCycle = WarmCycles

  def checks(opsRun: Int): Seq[Check] = {
    lastCycle = opsRun + WarmCycles
    val cycles = 1 to lastCycle
    val surv = (0 to lastCycle).map(c => c -> readSurvivors(c)).toMap
    val dupFails = cycles.flatMap { c =>
      val earlier = (0 until c).flatMap(surv(_)).toSet
      val kept = surv(c).toSet
      val leaked = verbatim(c).collect { case (copy, src) if earlier(src) && kept(copy) => copy } ++
        inBatch(c).filter(kept)
      if (leaked.isEmpty) None else Some(c -> leaked)
    }
    val ids = (0 to lastCycle).flatMap(surv(_))
    val twice = ids.groupBy(identity).collect { case (id, xs) if xs.size > 1 => id }
    trace.run("replay")
    val again = replay(math.min(ReplayCycles - 1, lastCycle))
    val differ = again.keys.toSeq.sorted.filterNot(c => again(c).sameElements(surv(c)))
    Seq(
      Check("ingest.same_seed_same_survivors", differ.isEmpty,
        s"cycles 0..${again.size - 1} replayed from empty stores; differing: $differ",
        if (differ.isEmpty) 0 else opsRun),
      Check("ingest.planted_copies_dropped", dupFails.isEmpty,
        s"cycles leaking planted copies: ${dupFails.take(3)}", dupFails.size),
      Check("ingest.no_id_twice", twice.isEmpty,
        s"${twice.size} ids survive more than once", if (twice.isEmpty) 0 else opsRun))
  }

  override def bypassChecks(t: Trace): Seq[Check] = {
    val scans = t.takeFacts().map(_.protoScans).sum
    Seq(Check("bypass.no_proto_scan", scans == 0, s"$scans proto source scans planned"))
  }

  private def storeUsage: Seq[(String, (Long, Long))] =
    stores.map { case (s, d) => s -> Stats.diskUsage(new java.io.File(s"$runDir/$d")) }

  private def bytesPerDoc: Double =
    storeUsage.map(_._2._1).sum.toDouble / (0 to lastCycle).map(batchDocs).sum

  def named(e2e: Map[String, Double], times: Seq[Double]): Map[String, (Double, String)] = Map(
    "ingest.docs_per_s" -> (e2e("items_per_s"), "docs/s"),
    "ingest.cycle_s.p50" -> (e2e("op_s.p50"), "s"),
    "ingest.cycle_s.tail" -> (e2e("ops.tail_s"), "s"),
    "ingest.cycle_growth" -> (e2e("ops.growth"), "ratio"),
    "ingest.store_bytes_per_doc" -> (bytesPerDoc, "B"))

  def perLayer(t: Trace): Map[String, Double] = {
    def spansOf(name: String) = t.timed(name)
    val stage = stageNames.flatMap { s =>
      val sp = spansOf(s"plan.curation.stage.$s")
      val durs = sp.map(x => (x.end - x.start) / 1000.0)
      val k = stageCounts(s)
      val ins = k.map(_._1)
      // a stage's out count is the next stage's in count
      val outs = stageNames.indexOf(s) match {
        case i if i == stageNames.size - 1 => k.map(_._2)
        case i => stageCounts(stageNames(i + 1)).map(_._1)
      }
      Seq(s"plan.curation.stage_s.$s" -> Stats.median(durs),
        s"plan.curation.kept_ratio.$s" -> outs.sum.toDouble / math.max(1L, ins.sum),
        s"plan.curation.jobs.$s" -> sp.map(x => t.sparkOf(x).jobs).sum.toDouble / sp.size) ++
        (if (s.endsWith("_gate")) Seq(s"ext.store.stage_growth.$s" -> Stats.growth(durs)) else Nil)
    }
    val open = stores.map { case (s, _) =>
      s"ext.store.open_s.$s" -> Stats.median(spansOf(s"ext.store.open.$s").map(x => (x.end - x.start) / 1000.0))
    }
    val disk = storeUsage.flatMap { case (s, (b, f)) =>
      Seq(s"ext.store.bytes.$s" -> b.toDouble, s"ext.store.files.$s" -> f.toDouble)
    }
    (stage ++ open ++ disk :+ ("ext.store.bytes_per_doc" -> bytesPerDoc)).toMap
  }
}
