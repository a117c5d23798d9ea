package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.jackson.JsonMethods

import graft.io.{AvroSink, JsonSink, ProtoSource}
import graft.io.ProtoIngest._
import graft.plan.ReportConfig

/** `report_avro`: the reference's own job. Salted replicas of `lineitem`
  * are written once as a proto3 replay cache (base64 lines after a base64
  * query header) and, un-encoded, as parquet. Each op is one report of a
  * fixed rotation: ProtoSource scan → `ReportDef.applyTo` → Avro and JSON
  * sinks over the same persisted rows. No store, no shuffle. */
final class ReportAvro(spark: SparkSession, trace: Trace, sfDir: String,
    work: String, seed: Long) extends Workload {

  private val Table = "lineitem_wire"
  private val Query = "SELECT lineitem_row FROM lineitem"
  private val cacheDir = s"$work/cache"
  private val dataDir = s"$work/data"
  private val outDir = s"$work/out"

  private val msg = PMessage("lineitem_row", Seq(
    PField(1, "order_key", PInt64),
    PField(2, "line_number", PInt32),
    PField(3, "part", PNested(PMessage("part_ref", Seq(
      PField(1, "part_key", PInt64), PField(2, "supp_key", PInt64))))),
    PField(4, "price", PNested(PMessage("price", Seq(
      PField(1, "quantity", PDouble), PField(2, "extended_price", PDouble),
      PField(3, "discount", PDouble), PField(4, "tax", PDouble))))),
    PField(5, "return_flag", PEnum(Map(0 -> "A", 1 -> "N", 2 -> "R"), "ReturnFlag")),
    PField(6, "line_status", PString),
    PField(7, "ship_date", PString),
    PField(8, "note", PString)))

  /** The rotation: a narrow projection behind a selective pushed WHERE; a
    * wide projection with lifted ids, constants, a metadata struct and
    * id-first ordering; a projection behind a WHERE that keeps almost all
    * rows. */
  val reports: IndexedSeq[(String, String)] = IndexedSeq(
    "narrow" -> s"""{"table": "$Table",
      | "fields": ["order_key", "line_number", "price.extended_price"],
      | "where": "ship_date >= '1998-09-01'"}""".stripMargin,
    "wide" -> s"""{"table": "$Table",
      | "fields": ["line_number", "part.part_key", "part.supp_key",
      |   "price.quantity", "price.extended_price", "price.discount",
      |   "price.tax", "return_flag", "line_status", "note"],
      | "where": "line_number <= 4",
      | "idOrdering": ["order_id", "line_id"],
      | "mappings": [
      |   {"name": "order_id", "scalar": "order_key"},
      |   {"name": "line_id", "scalar": "line_number"},
      |   {"name": "currency", "constant": "USD"},
      |   {"name": "metadata", "record": "metadata", "fields": [
      |     {"name": "author", "constant": "perfbench"},
      |     {"name": "download_date", "constant": "2026-01-01"},
      |     {"name": "report_date", "scalar": "ship_date"}]}]}""".stripMargin,
    "nonselective" -> s"""{"table": "$Table",
      | "fields": ["order_key", "price", "return_flag", "ship_date"],
      | "where": "ship_date >= '1992-01-05'"}""".stripMargin)

  override def roundSize: Int = reports.size
  def opSpan: String = "report"

  private var cacheRows = 0L

  private def source(): DataFrame =
    spark.read.format("graft.io.ProtoSource")
      .option("descriptor", msg.name)
      .option("expectedQuery", Query)
      .load(cacheDir)

  /** Salted replica rows in the descriptor's schema: prices, dates and a
    * note are salted from a hash of (seed, key), so each seed gives other
    * bytes and other WHERE selectivities over the same 600k lineitems. */
  private def replicaRows(): DataFrame = {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val salt = xxhash64(lit(seed), col("l_orderkey"), col("l_linenumber"))
    li.select(
        col("l_orderkey").as("order_key"),
        col("l_linenumber").as("line_number"),
        struct(col("l_partkey").as("part_key"), col("l_suppkey").as("supp_key")).as("part"),
        struct(col("l_quantity").as("quantity"),
          (col("l_extendedprice") + pmod(salt, lit(1000L)) / 100.0).as("extended_price"),
          col("l_discount").as("discount"), col("l_tax").as("tax")).as("price"),
        col("l_returnflag").as("return_flag"),
        col("l_linestatus").as("line_status"),
        date_format(date_add(col("l_shipdate").cast("date"),
          pmod(salt, lit(5L)).cast("int")), "yyyy-MM-dd").as("ship_date"),
        concat(lit("n"), conv(pmod(salt, lit(1L << 40)).cast("string"), 10, 36)).as("note"))
  }

  def generate(): Map[String, Any] = {
    replicaRows().repartition(2 * spark.sparkContext.defaultParallelism)
      .write.parquet(s"$dataDir/$Table.parquet")
    val rows = spark.read.parquet(s"$dataDir/$Table.parquet")
    cacheRows = rows.count()
    WireCache.stage(rows, msg, Query, cacheDir, s"$work/stage")
    ProtoSource.registerDescriptor(msg.name, msg)
    val (cacheBytes, cacheFiles) = Stats.diskUsage(new java.io.File(cacheDir))
    val (dataBytes, _) = Stats.diskUsage(new java.io.File(s"$dataDir/$Table.parquet"))
    Map("rows" -> cacheRows, "cache_bytes" -> cacheBytes,
      "cache_files" -> cacheFiles, "parquet_bytes" -> dataBytes,
      "reports" -> reports.map(_._1))
  }

  // traced runs only: each report's filtered decoded rows, cached, so the
  // projection can be timed alone
  private lazy val decoded: IndexedSeq[DataFrame] = reports.map { case (_, json) =>
    val rd = ReportConfig.parse(json)
    val d = rd.where.fold(source())(source().filter)
    d.persist(); d.count(); d
  }

  def warmUp(): Unit = (0 until roundSize).foreach(op)

  /** Output directory of each report kind's latest op. Every op writes to a
    * fresh directory and [[afterOp]] deletes the superseded one outside the
    * op's time: deleting inside the op would time the host's discard of
    * freed blocks (an ext4 `discard` mount), not the sinks. */
  private val latest = mutable.Map.empty[String, String]
  private var written = 0

  def op(i: Int): Long = {
    val k = i % reports.size
    val (name, json) = reports(k)
    val out = s"$outDir/$name/$written"
    written += 1
    trace.span("report") {
      val (rd, df) = trace.span("plan.report_analyze") {
        val rd = ReportConfig.parse(json)
        val df = rd.applyTo(source())
        if (trace.enabled) df.queryExecution.executedPlan
        (rd, df)
      }
      df.persist()
      try {
        if (trace.enabled) {
          trace.takeFacts()
          trace.span("bench.proto_scan") { df.count() }
          val f = trace.takeFacts()
          gated += f.map(_.protoRowsGated).sum
          scanned += f.map(x => x.protoRowsGated + x.protoRowsOut).sum
        }
        trace.span("io.avro_sink") { AvroSink.write(df, s"$out/avro", rd.table) }
        trace.span("io.json_sink") { JsonSink.write(df, s"$out/json") }
      } finally df.unpersist(blocking = false)
    }
    superseded ++= latest.get(name)
    latest(name) = out
    cacheRows
  }

  private val superseded = mutable.ArrayBuffer.empty[String]

  override def afterOp(i: Int): Unit = {
    superseded.foreach(d => Stats.deleteTree(new java.io.File(d)))
    superseded.clear()
  }

  private var gated, scanned = 0L
  private var outRows = Map.empty[String, Long]

  /** Row count and an order-free content digest of a frame. */
  private def digest(df: DataFrame): (Long, String) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), String.valueOf(r.get(1)))
  }

  def checks(opsRun: Int): Seq[Check] = {
    val perKind = (0 until reports.size).map(k => (opsRun - k + reports.size - 1) / reports.size)
    val counts = reports.indices.map { k =>
      val (name, json) = reports(k)
      val expected = ReportConfig.parse(json).run(spark, dataDir)
      val want = digest(expected)
      val got = digest(spark.read.schema(expected.schema).json(s"${latest(name)}/json"))
      outRows += name -> got._1
      Check(s"report.$name.digest", want == got,
        s"rows/digest from sinks $got, from parquet replica $want", perKind(k))
    }
    // Avro sample: the narrow report's container files, read back record by
    // record, against the parquet-path rows rendered as JSON
    val (name, json) = reports(0)
    val expected = ReportConfig.parse(json).run(spark, dataDir)
    val want = expected.select(to_json(struct(expected.columns.map(col).toIndexedSeq: _*)))
      .collect().map(r => JsonMethods.parse(r.getString(0)))
    val got = AvroSink.readToJsonStrings(spark, s"${latest(name)}/avro").map(JsonMethods.parse(_))
    def bag(xs: Seq[org.json4s.JValue]) = xs.groupBy(identity).view.mapValues(_.size).toMap
    val avro = Check(s"report.$name.avro_readback", bag(want.toSeq) == bag(got),
      s"${got.size} Avro records vs ${want.length} expected rows", perKind(0))
    counts :+ avro
  }

  override def bypassChecks(t: Trace): Seq[Check] = {
    def commitLogs(f: java.io.File): Int =
      if (!f.isDirectory) 0
      else (if (f.getName == "_commits") 1 else 0) + f.listFiles().map(commitLogs).sum
    val ext = t.spans.count(_.name.startsWith("ext."))
    val logs = commitLogs(new java.io.File(work))
    Seq(Check("bypass.no_store_spans", ext == 0, s"$ext ext.* spans"),
      Check("bypass.no_store_commit_log", logs == 0, s"$logs _commits directories under the work dir"))
  }

  private def bytesOf(kind: String, fmt: String): Long =
    Stats.diskUsage(new java.io.File(s"${latest(kind)}/$fmt")) match { case (b, _) => b }

  private def perRow(fmt: String): Double = {
    val kinds = reports.map(_._1).filter(outRows.contains)
    kinds.map(bytesOf(_, fmt)).sum.toDouble / math.max(1L, kinds.map(outRows).sum)
  }

  def named(e2e: Map[String, Double], times: Seq[Double]): Map[String, (Double, String)] = Map(
    "report.rows_per_s" -> (e2e("items_per_s"), "rows/s"),
    "report.latency_s.p50" -> (e2e("op_s.p50"), "s"),
    "report.latency_s.tail" -> (e2e("ops.tail_s"), "s"),
    "report.bytes_out_per_row" -> (perRow("avro") + perRow("json"), "B"))

  def perLayer(t: Trace): Map[String, Double] = {
    // the projection alone, over each report's cached decoded rows: after
    // the timed loop, so it adds nothing to the ops' latency
    t.run("project")
    for (_ <- 0 until 2; k <- reports.indices) t.span("plan.report_project") {
      ReportConfig.parse(reports(k)._2).translator(decoded(k))
        .write.format("noop").mode("overwrite").save()
    }
    def total(name: String) = t.spans.filter(_.name == name).map(s => s.end - s.start).sum / 1000.0
    def timed(name: String) = t.timed(name).map(s => s.end - s.start).sum / 1000.0
    val n = math.max(1, t.timed("report").size)
    Map(
      "io.proto_scan_s" -> timed("bench.proto_scan") / n,
      "io.proto_rows_gated_ratio" -> gated.toDouble / math.max(1L, scanned),
      "io.avro_sink_s" -> timed("io.avro_sink") / n,
      "io.json_sink_s" -> timed("io.json_sink") / n,
      "io.avro_bytes_per_row" -> perRow("avro"),
      "io.json_bytes_per_row" -> perRow("json"),
      "plan.report_analyze_s" -> timed("plan.report_analyze") / n,
      "plan.report_project_s" -> total("plan.report_project") / (2 * reports.size))
  }

  override def close(): Unit = if (trace.enabled) decoded.foreach(_.unpersist())
}

/** Writes rows as the reference's proto replay cache: one text file per
  * partition, a base64(query) header line, then one base64 proto3 message
  * per line. */
object WireCache {
  def stage(rows: DataFrame, msg: PMessage, query: String, destDir: String,
      staging: String): Unit = {
    val header = java.util.Base64.getEncoder.encodeToString(query.getBytes("UTF-8"))
    val fields = rows.schema.fieldNames.toSeq
    rows.rdd.mapPartitions { it =>
      val b64 = java.util.Base64.getEncoder
      val out = new java.io.ByteArrayOutputStream()
      Iterator(header) ++ it.map { r =>
        out.reset()
        encode(r, fields, msg, out)
        b64.encodeToString(out.toByteArray)
      }
    }.saveAsTextFile(staging)
    val parts = new java.io.File(staging).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(destDir))
    parts.zipWithIndex.foreach { case (f, i) =>
      java.nio.file.Files.move(f.toPath, java.nio.file.Paths.get(f"$destDir/c-$i%05d.txt"))
    }
    Stats.deleteTree(new java.io.File(staging))
  }

  private def varint(v0: Long, out: java.io.ByteArrayOutputStream): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  private def lenDelimited(bytes: Array[Byte], out: java.io.ByteArrayOutputStream): Unit = {
    varint(bytes.length.toLong, out); out.write(bytes, 0, bytes.length)
  }

  /** Proto3 wire encoding of `r` (fields looked up by name) for the scalar,
    * enum and nested-message types the benchmark's descriptor uses. */
  def encode(r: Row, names: Seq[String], msg: PMessage,
      out: java.io.ByteArrayOutputStream): Unit =
    msg.fields.foreach { f =>
      val i = names.indexOf(f.name)
      if (i >= 0 && !r.isNullAt(i)) f.ptype match {
        case PInt64 => varint((f.number << 3).toLong, out); varint(r.getLong(i), out)
        case PInt32 => varint((f.number << 3).toLong, out); varint(r.getInt(i).toLong, out)
        case PDouble =>
          varint((f.number << 3 | 1).toLong, out)
          val bits = java.lang.Double.doubleToLongBits(r.getDouble(i))
          var b = 0
          while (b < 8) { out.write(((bits >>> (8 * b)) & 0xff).toInt); b += 1 }
        case PString =>
          varint((f.number << 3 | 2).toLong, out)
          lenDelimited(r.getString(i).getBytes("UTF-8"), out)
        case PEnum(symbols, _) =>
          val v = symbols.collectFirst { case (n, s) if s == r.getString(i) => n }
            .getOrElse(throw new IllegalArgumentException(s"no enum symbol ${r.getString(i)}"))
          varint((f.number << 3).toLong, out); varint(v.toLong, out)
        case PNested(sub) =>
          val inner = new java.io.ByteArrayOutputStream()
          val nested = r.getStruct(i)
          encode(nested, nested.schema.fieldNames.toSeq, sub, inner)
          varint((f.number << 3 | 2).toLong, out)
          lenDelimited(inner.toByteArray, out)
        case other => throw new IllegalArgumentException(s"no encoder for $other")
      }
    }
}
