package perfbench

import scala.util.Random

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array, col, not}
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}

import graft.SparkEntry
import graft.engine.Engine
import graft.ops.TextOps
import graft.pipeline.Ingest
import graft.proto.ArrowInterchange
import graft.sinks.{DataSkipping, ManagedWriter, StreamType}
import graft.sources.{ParquetTableSource, ScanOptions}

/** One timed operation of a closed loop: a corpus step or an ETL pass.
  * `wallS` covers only the timed calls; checks run outside it.
  */
final case class Op(name: String, wallS: Double, ok: Boolean, error: String)

/** What an ETL pass moved, for the per-layer rates. */
final case class EtlStats(
    rowsIngested: Long,
    arrowRows: Long,
    arrowBytes: Long,
    protobufBytes: Long,
    filesCommitted: Int,
    filesSkipped: Int)

object Workloads {
  /** Name of the ETL warm-up pass, which the end-to-end metrics skip. */
  val EtlWarmup = "etl_warmup"

  val corpusIds: Seq[String] = Seq("ns27", "ns62", "ns95", "ns129", "ns131", "ns274")

  def corpusGates: Seq[String] = corpusIds.map { id =>
    SparkEntry.queries.keys.find(_.startsWith(id + "_"))
      .getOrElse(throw new IllegalStateException(s"no gate $id"))
  }

  /** Build the gate's DataFrame, then force it with a parquet write into
    * `outDir`: the two halves are the `ops` build span and the execution
    * span. The written output is what the oracle compare reads, so the
    * check needs no second execution. Gate outputs are small (at most a
    * few thousand rows), so the write costs little beside the gate.
    */
  def runGate(spark: SparkSession, spans: Spans, dataDir: String, gate: String,
      outDir: String): Unit = {
    val df = spans("ops.build", gate)(SparkEntry.queries(gate)(spark, dataDir))
    spans("ops.exec", gate)(df.write.mode("overwrite").parquet(outDir))
  }
}

/** The scan-local kernel step of `llm_corpus`: the `TextOps` kernel
  * projections over the 10x documents.
  */
final class KernelStep(spark: SparkSession, upDir: String) {
  val docs: DataFrame = spark.read.parquet(s"$upDir/documents.parquet")
  val rows: Long = docs.count()

  private def text = col("text")

  def run(spans: Spans): Unit = {
    val df = spans("functions.build", "kernel")(docs.select(
      col("doc_id"),
      TextOps.fingerprintFast(text).as("fp"),
      TextOps.rollingFingerprintFast(text).as("rfp"),
      TextOps.langIdMarkerFast(text).as("lang"),
      TextOps.qualityFeatures(text).as("qf")))
    spans("functions.exec", "kernel")(df.write.format("noop").mode("overwrite").save())
  }

  /** Rows where a kernel disagrees with its declarative twin, over the
    * seed's tenth of the documents (the twins are slow).
    */
  def mismatches(seed: Long): Long = docs
    .where(col("doc_id") % 10 === Math.floorMod(seed, 10L))
    .filter(
      not(TextOps.fingerprint(text) <=> TextOps.fingerprintFast(text)) ||
        not(TextOps.rollingFingerprint(text) <=> TextOps.rollingFingerprintFast(text)) ||
        not(TextOps.langId(text) <=> TextOps.langIdMarkerFast(text)) ||
        not(array(TextOps.avgWordLen(text), TextOps.stopwordRatio(text),
          TextOps.punctRatio(text), TextOps.qualityScore(text)) <=> TextOps.qualityFeatures(text)))
    .count()
}

/** The flagship BQ2Duck path over the 10x replica: partitioned scan with
  * pushdown, create-then-append ingest, SQL out through Arrow IPC and
  * protobuf, a pending managed write with finalize/commit, and a
  * data-skipping read-back.
  */
final class Etl(spark: SparkSession, upDir: String, workDir: String, rng: Random) {
  private val engine = new Engine(spark)
  private val source = new ParquetTableSource(upDir)
  private val fields = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_returnflag", "l_linestatus", "l_shipdate")
  // lineitem ships on 1995-01-02 + [0, 2499) days; orderkeys are < 1.5M
  private val firstShip = java.time.LocalDate.of(1995, 1, 2)
  private val shipDays = 2499
  private val windowDays = 30
  private val maxOrderKey = 1500000L
  // A fixed batch count keeps the work per pass equal across seeds; the
  // seed moves only where the batches split.
  private val batches = 3

  source.read(spark, "orders", ScanOptions(
    selectedFields = Seq("o_orderkey", "o_orderpriority")))
    .createOrReplaceTempView("etl_orders")

  private def window(d0: Int): String = {
    val a = firstShip.plusDays(d0)
    val b = firstShip.plusDays(d0 + windowDays)
    s"l_shipdate >= DATE '$a' AND l_shipdate < DATE '$b'"
  }

  /** Draws this pass's predicate windows, batch split and skipping range. */
  final case class Plan(pass: Int) {
    val d0: Int = rng.nextInt(shipDays - 2 * windowDays)
    val restrictA: String = window(d0)
    val restrictB: String = window(d0 + windowDays)
    val cuts: Seq[Long] =
      (0L +: Seq.fill(batches - 1)(rng.nextLong(maxOrderKey)).sorted) :+ maxOrderKey
    val probeLo: Long = rng.nextLong(maxOrderKey - 5000)
    val table = s"etl_$pass"
    val dest = s"$workDir/managed_$pass"
  }

  private def q1(t: String) =
    s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
       |  sum(CAST(l_quantity AS BIGINT)) AS qty,
       |  sum(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS base_c,
       |  sum(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS disc_c
       |FROM $t GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  private def urgent(t: String) =
    s"""SELECT o_orderkey, count(*) AS lines,
       |  sum(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS rev_c
       |FROM $t JOIN etl_orders ON l_orderkey = o_orderkey
       |WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 4 = 0
       |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin

  private def probe(p: Plan) = Seq(
    GreaterThanOrEqual("l_orderkey", p.probeLo), LessThan("l_orderkey", p.probeLo + 5000))

  /** The timed pass. Returns what it moved; leaves the table and managed
    * directory in place for [[check]] and [[cleanup]].
    */
  def pass(p: Plan, spans: Spans): (EtlStats, Long) = {
    val written = scala.collection.mutable.ArrayBuffer.empty[Long]
    val dfB = spans("sources.read", "lineitem")(source.read(spark, "lineitem",
      ScanOptions(selectedFields = fields, rowRestriction = Some(p.restrictB), maxStreamCount = Some(4))))
    val rowsA = spans("pipeline.ingest", "create")(Ingest.run(engine, source, "lineitem", p.table,
      ScanOptions(selectedFields = fields, rowRestriction = Some(p.restrictA), maxStreamCount = Some(4))))
    val rowsB = spans("pipeline.ingest", "append")(engine.ingestCreateAppend(dfB, p.table))
    val counting = new CountingStream
    val q1Df = spans("engine.query", "q1")(engine.query(q1(p.table)))
    val q1Rows = spans("proto.arrow", "q1")(ArrowInterchange.queryArrowStream(q1Df, counting))
    val urgentDf = spans("engine.query", "urgent")(engine.query(urgent(p.table)))
    val urgentRows = spans("proto.arrow", "urgent")(ArrowInterchange.queryArrowStream(urgentDf, counting))
    val (descriptor, messages, _) = spans("proto.protobuf", "bounded")(engine.queryProto(
      s"SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_returnflag FROM ${p.table} " +
        "ORDER BY l_orderkey, l_linenumber, l_partkey LIMIT 5000"))
    val all = spark.table(p.table)
    val writer = new ManagedWriter(spark, p.dest, all.schema, StreamType.Pending)
    p.cuts.sliding(2).foreach { case Seq(lo, hi) =>
      written += spans("sinks.write", "batch")(
        writer.write(all.where(col("l_orderkey") >= lo && col("l_orderkey") < hi)))
    }
    spans("sinks.commit", "finalize")(writer.finalizeCommit())
    val report = DataSkipping.report(spark, p.dest, probe(p))
    spans("sinks.read_skipping", "probe")(DataSkipping.readSkipping(spark, p.dest, probe(p)).count())
    (EtlStats(rowsA + rowsB, q1Rows + urgentRows, counting.bytes,
      descriptor.length.toLong + messages.map(_.length.toLong).sum,
      report.totalFiles, report.skipped), written.sum)
  }

  /** The ETL invariants, untimed. Returns a description of each failure. */
  def check(p: Plan, stats: EtlStats, writtenRows: Long): Seq[String] = {
    val failures = Seq.newBuilder[String]
    val li = spark.read.parquet(s"$upDir/lineitem.parquet")
    val restricted = li.where(s"(${p.restrictA}) OR (${p.restrictB})").count()
    if (stats.rowsIngested != restricted)
      failures += s"ingested ${stats.rowsIngested} != restricted source $restricted"
    val sink = new java.io.ByteArrayOutputStream
    val df = engine.query(urgent(p.table))
    ArrowInterchange.queryArrowStream(df, sink)
    val decoded = ArrowInterchange.fromIpcStream(sink.toByteArray)._2.map(_.map(String.valueOf))
    val collected = df.collect().toSeq.map(_.toSeq.map(String.valueOf))
    if (decoded != collected)
      failures += s"arrow stream decodes to ${decoded.size} rows, collect has ${collected.size}"
    val managed = ManagedWriter.read(spark, p.dest)
    val readBack = managed.count()
    if (readBack != writtenRows)
      failures += s"managed read $readBack != sum of write returns $writtenRows"
    val skipping = DataSkipping.readSkipping(spark, p.dest, probe(p))
    val plain = managed.where(col("l_orderkey") >= p.probeLo && col("l_orderkey") < p.probeLo + 5000)
    if (skipping.exceptAll(plain).count() != 0 || plain.exceptAll(skipping).count() != 0)
      failures += "readSkipping differs from the plain filter"
    failures.result()
  }

  /** Drop the pass's catalog table and managed directory (untimed). */
  def cleanup(p: Plan): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${p.table}")
    val dest = new Path(p.dest)
    dest.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dest, true)
  }
}

/** Byte-counting sink for the Arrow stream. */
final class CountingStream extends java.io.OutputStream {
  var bytes = 0L
  override def write(b: Int): Unit = bytes += 1
  override def write(b: Array[Byte], off: Int, len: Int): Unit = bytes += len
}
