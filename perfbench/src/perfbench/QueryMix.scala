package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `query_mix`: repeated passes over a seeded sample of the declared
  * queries, stratified by family. Each op is one query, fully materialized
  * through the `noop` sink over a replica of the TPC-H-like tables. The
  * warm-up pass dumps every sampled result for the DuckDB oracle. */
final class QueryMix(spark: SparkSession, trace: Trace, sfDir: String,
    work: String, seed: Long) extends Workload {

  /** The pool: family, declared query, and its warm cost in seconds at sf0.1
    * on `local[4]` through the `noop` sink (mean of two runs after a first,
    * 4-vCPU AMD EPYC VM). It holds every declared query that a pass of a
    * 12-second run can carry: left out are those above 3 s in graft.Bench's
    * 8-core sweep (the store and stream loops, the capstones and the heaviest
    * batch dedups; `curate_ingest` drives the same stores), those above 2 s
    * here, and those whose DuckDB oracle alone takes over 5 s. The costs
    * only steer the sampling. */
  private val Pool = """
projection dq01_nested_projection        0.106
projection dq02_select_all_expansion     0.409
projection dq03_scalar_flatten           0.115
projection dq04_constant_columns         0.086
projection dq05_struct_construction      0.287
projection dq06_filter_predicates        0.186
projection dq07_null_semantics           0.142
projection dq08_enum_passthrough         0.131
projection dq09_field_ordering           0.268
projection dq10_json_sink                0.119
projection dq155_proto_replay_report     0.351
relational dq11_join                     0.200
relational dq12_aggregation              0.516
relational dq27_window_running           0.352
relational dq28_set_except               0.283
relational dq29_distinct_count           0.207
relational dq32_anti_join                0.156
relational dq33_outer_join_agg           0.354
relational dq34_rollup                   0.551
relational dq35_pivot                    0.205
relational dq37_asof_join                0.308
relational dq38_range_join               0.401
relational dq39_semi_join                0.173
relational dq40_set_intersect            0.319
relational dq41_cube                     0.708
relational dq42_percentiles              0.178
relational dq43_string_agg               0.141
relational dq46_session_window           0.913
relational dq48_grouping_sets            0.415
relational dq52_bucketed_join            1.493
relational dq54_salted_join              0.348
relational dq55_bloom_pruned_join        0.282
relational dq57_topk_per_key             0.203
relational dq58_sample_split             0.161
relational dq59_partition_pruning        0.446
relational dq61_unpivot                  0.150
relational dq63_zorder_band              0.162
relational dq66_sequence_packing         0.243
relational dq82_sequence_materialize     0.265
relational dq101_epoch_shuffle           0.096
relational dq103_dense_resample          0.254
relational dq120_epoch_repeat            0.157
relational dq148_epochs_by_source        0.234
text       dq15_text_tokens              0.165
text       dq16_lang_id                  0.384
text       dq17_quality_score            0.559
text       dq36_json_extract             0.304
text       dq53_char_diversity           0.099
text       dq64_repetition_ratio         0.558
text       dq65_chunking                 0.145
text       dq68_source_mix               0.154
text       dq69_tfidf_top_term           0.679
text       dq71_length_outliers          0.215
text       dq77_topngram_family          0.744
text       dq85_pii_redaction            0.531
text       dq86_bm25_topk                1.033
text       dq89_subword_tokenize         0.319
text       dq92_lm_fluency               0.725
text       dq98_dsir_importance          1.156
text       dq102_quality_gate            0.854
text       dq107_bpe_train               1.220
text       dq112_quality_probe           0.841
text       dq114_bpe_train_batched       0.782
text       dq115_quality_probe_gate      1.215
text       dq119_token_budget            0.410
text       dq146_temperature_mix         0.171
dedup      dq13_dedup_exact              0.312
dedup      dq18_fingerprint              0.137
dedup      dq20_simhash                  1.201
dedup      dq56_dedup_salted             0.379
dedup      dq67_decontamination          0.559
dedup      dq74_dup_lines                0.534
dedup      dq81_incremental_dedup        0.522
dedup      dq88_boilerplate_lines        0.466
dedup      dq106_exact_substring         1.156
dedup      dq110_exact_substring_clean   1.228
dedup      dq113_exact_substring_gate    1.028
dedup      dq144_decontam_gate_stage     1.185
ann        dq14_similarity_topk          0.110
ann        dq22_embedding_neardup        0.339
ann        dq23_ann_ivf                  0.189
ann        dq30_ann_multiprobe           0.206
ann        dq50_vector_centroids         0.155
ann        dq51_ann_trained_ivf          0.581
ann        dq60_quantized_ann            0.179
ann        dq75_semdedup                 0.769
ann        dq84_ann_ivf_kernel           0.504
ann        dq90_hard_negatives           1.056
ann        dq91_semantic_decon           0.227
ann        dq93_chunk_retrieval          1.519
ann        dq99_knn_classify             0.252
ann        dq105_semantic_decon_pruned   1.027
ann        dq111_cluster_balanced        0.533
ann        dq126_ivf_store_packed        1.723
ann        dq162_pq_adc_topk             0.979
ann        dq163_ivfpq_topk              1.510
ann        dq177_pq_permuted             1.101
streaming  dq25_stream_window            0.581
streaming  dq26_stream_sessions          0.592
streaming  dq31_stream_dedup             0.805
streaming  dq44_stream_static_join       0.492
streaming  dq49_stream_interval_join     1.409
streaming  dq94_stream_dedup_ww          0.879
streaming  dq96_stream_daily_rollup      1.051
streaming  dq97_stream_outer_join        1.225
streaming  dq145_stream_decontam         1.260
streaming  dq156_proto_stream_tail       0.682
streaming  dq157_stream_config_report    0.647
streaming  dq159_stream_mix_gate         0.791
streaming  dq176_stream_media_digest     1.083
streaming  dq182_stream_media_decontam   1.545
media      dq24_multimodal_decode        0.098
media      dq73_image_meta               0.141
media      dq79_audio_meta               0.429
media      dq80_video_meta               0.177
media      dq172_audio_gate              0.783
media      dq174_media_dedup_exact       0.425
media      dq185_config_media_digest     0.507
media      dq186_config_media_sig        1.184
media      dq187_media_dedup_cdc         1.310
media      dq189_config_media_cdc        1.578
config     dq62_curation_pipeline        0.888
config     dq70_config_report            0.109
config     dq95_curation_v3              0.834
config     dq116_curation_config         0.981
config     dq124_config_ingest           1.019
config     dq143_curation_drop_audit     0.948
config     dq158_shard_write             1.200
config     dq161_shard_verify_epochs     1.178
""".trim

  val pool: Seq[(String, String, Double)] = Pool.linesIterator.map(_.trim.split("\\s+"))
    .map(a => (a(0), a(1), a(2).toDouble)).toSeq
  val families: Seq[String] = pool.map(_._1).distinct
  private val byFamily = pool.groupBy(_._1).view.mapValues(_.toIndexedSeq).toMap

  /** One query per family. A lead query is drawn from the whole pool, the
    * other families are redrawn until the pass's summed pool cost is within
    * `Tolerance` of `PassCostS`: every pooled query can be sampled, and the
    * seed changes which queries run but hardly how long a pass takes. */
  private val PassCostS = 3.5
  private val Tolerance = 0.02
  private val MaxDraws = 10000000

  private val dataDir = s"$work/data"
  private val dumpDir = s"$work/dump"
  private val familyOf = pool.map(p => p._2 -> p._1).toMap
  var sample: IndexedSeq[String] = IndexedSeq.empty

  def generate(): Map[String, Any] = {
    val rng = new java.util.SplittableRandom(seed)
    def shuffled[A: scala.reflect.ClassTag](xs: Seq[A]): Seq[A] = {
      val a = xs.toArray
      var i = a.length - 1
      while (i > 0) { val j = rng.nextInt(i + 1); val x = a(i); a(i) = a(j); a(j) = x; i -= 1 }
      a.toSeq
    }
    val lead = pool(rng.nextInt(pool.size))
    def draw() = families.map(f =>
      if (f == lead._1) lead else byFamily(f)(rng.nextInt(byFamily(f).size)))
    val picked = Iterator.continually(draw()).take(MaxDraws)
      .find(s => math.abs(s.map(_._3).sum - PassCostS) <= Tolerance * PassCostS)
      .getOrElse(sys.error(s"no pass of about $PassCostS s holds ${lead._2}"))
    sample = shuffled(picked.map(_._2)).toIndexedSeq
    val missing = sample.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"declared queries not found: $missing")
    // the engine reads a private copy of the tables, never the shared ones
    val src = new java.io.File(sfDir)
    val copied = src.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName).map { f =>
      val to = new java.io.File(dataDir, f.getName)
      copy(f, to); f.getName -> Stats.diskUsage(to)._1
    }
    Map("sf_dir_tables" -> copied.toMap, "sample" -> sample, "lead" -> lead._2,
      "pool_size" -> pool.size, "sample_pool_cost_s" -> picked.map(_._3).sum)
  }

  private def copy(from: java.io.File, to: java.io.File): Unit =
    if (from.isDirectory) from.listFiles().foreach(f => copy(f, new java.io.File(to, f.getName)))
    else {
      to.getParentFile.mkdirs()
      java.nio.file.Files.copy(from.toPath, to.toPath)
    }

  def warmUp(): Unit = {
    sample.foreach { q =>
      SparkEntry.queries(q)(spark, dataDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$dumpDir/$q")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dumpDir/oracle_sql.json"),
      Stats.render(sample.map(q => q -> SparkEntry.oracleSql(q)).toMap))
    // one pass as timed: after the dump alone, the first timed pass still
    // runs about 15% slow and the second is still warming
    sample.indices.foreach(op)
    runs.clear(); queryFamily.clear(); facts.clear(); batches.clear()
    trace.takeFacts(); trace.takeBatches()
  }

  override def roundSize: Int = sample.size
  def opSpan: String = "query"

  private val runs = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val facts = mutable.Map.empty[String, mutable.ArrayBuffer[PlanFacts]]
  private val batches = mutable.ArrayBuffer.empty[BatchProgress]
  private val queryFamily = mutable.ArrayBuffer.empty[String]

  def op(i: Int): Long = {
    val q = sample(i % sample.size)
    trace.span("query") {
      SparkEntry.queries(q)(spark, dataDir).write.format("noop").mode("overwrite").save()
    }
    runs(q) += 1
    queryFamily += familyOf(q)
    if (trace.enabled) {
      facts.getOrElseUpdate(familyOf(q), mutable.ArrayBuffer.empty) ++= trace.takeFacts()
      batches ++= trace.takeBatches()
    }
    1L
  }

  override def extra: Map[String, Any] = Map("runs_per_query" -> runs.toMap)

  def checks(opsRun: Int): Seq[Check] = Nil // the DuckDB oracle runs in run.py

  /** A pass, not a query, is the latency unit: the queries of a pass
    * differ in cost by design, their sum does not. */
  override def latencies(times: Seq[Double]): Seq[Double] = perRound(times)

  def named(e2e: Map[String, Double], times: Seq[Double]): Map[String, (Double, String)] = Map(
    "mix.pass_s.p50" -> (e2e("op_s.p50"), "s"),
    "mix.pass_s.tail" -> (e2e("ops.tail_s"), "s"),
    "mix.query_s.p50" -> (Stats.median(times), "s"),
    "mix.queries_per_s" -> (e2e("items_per_s"), "queries/s"))

  def perLayer(t: Trace): Map[String, Double] = {
    val qs = t.timed("query")
    val passes = math.max(1.0, qs.size.toDouble / sample.size)
    val byFamily = qs.zip(queryFamily).groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val fam = families.flatMap { f =>
      val spans = byFamily.getOrElse(f, Seq.empty)
      val fs = facts.getOrElse(f, mutable.ArrayBuffer.empty)
      val n = math.max(1, spans.size).toDouble
      Seq(
        s"mix.family_s.$f" -> spans.map(s => s.end - s.start).sum / 1000.0 / passes,
        s"mix.jobs.$f" -> spans.map(s => t.sparkOf(s).jobs).sum / n,
        s"mix.driver_gap_s.$f" -> spans.map(t.driverGapMs).sum / 1000.0 / n,
        s"functions.wscg_coverage.$f" -> fs.map(_.inCodegen).sum.toDouble / math.max(1, fs.map(_.ops).sum))
    }
    val trig = batches.map(_.triggerMs / 1000.0).toSeq
    val over = batches.map(b => (b.triggerMs - b.addBatchMs) / 1000.0).toSeq
    (fam ++ Seq(
      "functions.interpreted_kernels" -> facts.values.flatten.map(_.interpretedKernels).sum / passes,
      "streaming.batches" -> batches.size / passes,
      "streaming.batch_s.p50" -> (if (trig.isEmpty) 0.0 else Stats.median(trig)),
      "streaming.trigger_overhead_s" -> (if (over.isEmpty) 0.0 else Stats.median(over)))).toMap
  }
}
