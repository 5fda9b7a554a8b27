package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.PerfbenchBridge
import org.apache.spark.sql.SparkSession

import graft.{ScaleUp, SparkEntry, Tables}
import graft.engine.Graft

/** Benchmark harness JVM. Two modes:
  *
  *   - `prepare <sfDir> <upDir>`: build the 10x replica of the fixture set
  *     with `ScaleUp.ensure` (once per checkout, outside every timing).
  *   - `oracle-sql <out>`: write the DuckDB oracle SQL of the gates the
  *     benchmark runs, for run.py to answer and cache.
  *   - `run <workload> <seed> <seconds> <trace> <sfDir> <upDir> <workDir> <out>`:
  *     set up a session, drive one workload in a closed loop from this one
  *     thread — whole passes until `seconds` of timed work, at least two
  *     ETL passes after a warm-up pass, or one corpus pass — and write
  *     the raw result (operations, set-up time, per-layer metrics,
  *     fingerprints, gate output directories) as JSON to `out`. run.py
  *     compares the gate outputs with the oracle and prints the result line.
  */
object Main {
  val Cores = 4

  def session(warehouse: String): SparkSession = {
    val s = Graft.session(master = s"local[$Cores]", shufflePartitions = Cores,
      warehouse = Some(warehouse), appName = "perfbench")
    // Every unpartitioned window the gates plan is reviewed; keep the log quiet.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    s
  }

  /** Session ready, fixture views registered, warm-up done. */
  def setup(sfDir: String, warehouse: String): SparkSession = {
    val s = session(warehouse)
    Tables.registerAll(s, sfDir)
    s.range(1000000).selectExpr("sum(id)").collect()
    // ICU collation tables load on first upper()/lower() (~1 s in Spark 4).
    s.range(1).selectExpr("upper('a')", "lower('A')", "initcap('a b')").collect()
    s.table("lineitem").limit(1).collect()
    s
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "prepare" :: sfDir :: upDir :: Nil =>
      val s = session(s"$upDir-warehouse")
      ScaleUp.ensure(s, sfDir, upDir)
      s.stop()
    case "run" :: workload :: seed :: seconds :: trace :: sfDir :: upDir :: workDir :: out :: Nil =>
      val result = run(workload, seed.toLong, seconds.toDouble, trace == "1", sfDir, upDir, workDir)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
        new ObjectMapper().writeValueAsString(Json.toJava(result)))
    case "oracle-sql" :: out :: Nil =>
      val oracle = SparkEntry.oracleSql
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), new ObjectMapper()
        .writeValueAsString(Json.toJava(Workloads.corpusGates.map(g => g -> oracle(g)).toMap)))
    case _ =>
      System.err.println("usage: Main prepare <sfDir> <upDir> | Main oracle-sql <out> | " +
        "Main run <workload> <seed> <seconds> <0|1> <sfDir> <upDir> <workDir> <out>")
      sys.exit(2)
  }

  def run(workload: String, seed: Long, seconds: Double, traced: Boolean,
      sfDir: String, upDir: String, workDir: String): Map[String, Any] = {
    val warehouse = s"$workDir/warehouse"
    // Set-up is timed from JVM start, so JVM start, class loading and the
    // first session's cost all count. A restart in the same JVM would skip
    // them, so there is one set-up per run.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = setup(sfDir, warehouse)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val sc = spark.sparkContext
    val calibPre = if (traced) Calib.probe(Cores) else Map.empty[String, Double]
    val listener = new LayerListener
    if (traced) sc.addSparkListener(listener)
    val spans = new Spans(sc, stamp = traced)
    val rng = new Random(seed)
    val ops = mutable.ArrayBuffer.empty[Op]
    val gateOutputs = mutable.LinkedHashMap.empty[String, String]
    val failures = mutable.ArrayBuffer.empty[String]
    val layerExtra = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val opSpans = mutable.Map.empty[String, mutable.ArrayBuffer[String]]
    val loopStart = System.nanoTime()
    /** Closed-loop stop rule: whole passes until `seconds` of timed work,
      * and at least `minPasses` — a pass count that does not flip with
      * the host's speed.
      */
    def morePasses(minPasses: Int) =
      passWalls.size < minPasses || passWalls.sum < seconds

    /** Run one operation; an exception fails it but keeps its sample. */
    def op(name: String)(body: => Unit): Boolean = {
      val first = spans.done.size
      val ok = try { body; true } catch {
        case NonFatal(e) =>
          failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
          false
      }
      ops += Op(name, spans.done.drop(first).map(_.seconds).sum, ok,
        if (ok) "" else failures.last)
      opSpans.getOrElseUpdate(name, mutable.ArrayBuffer.empty) ++= spans.done.drop(first).map(_.id)
      ok
    }

    workload match {
      case "llm_corpus" =>
        val kernel = new KernelStep(spark, upDir)
        // A fixed step order: the first steps of a pass in a fresh JVM pay
        // its JIT and class-loading warm-up, so a seeded order moved the
        // median step time by up to 80 % between seeds.
        val steps = Workloads.corpusGates :+ "kernel"
        do {
          val t0 = ops.size
          steps.foreach {
            case "kernel" => op("kernel")(kernel.run(spans))
            case gate =>
              val dir = s"$workDir/check/$gate"
              if (op(gate)(Workloads.runGate(spark, spans, sfDir, gate, dir))) gateOutputs(gate) = dir
          }
          passWalls += ops.drop(t0).map(_.wallS).sum
        } while (morePasses(1))
        layerExtra("kernel.rows") = kernel.rows.toDouble
        val bad = kernel.mismatches(seed)
        if (bad != 0) {
          failures += s"kernel: $bad rows differ from the declarative twins"
          markFailed(ops, "kernel")
        }

      case "bq2duck_etl" =>
        val etl = new Etl(spark, upDir, workDir, rng)
        var pass = 0
        do {
          val plan = etl.Plan(pass)
          var stats: Option[(EtlStats, Long)] = None
          // The first pass in a fresh JVM pays the JIT and class-loading
          // warm-up (≈ 2x a warm pass) and is a warm-up: it is checked and
          // counted as attempted, but not timed into the end-to-end metrics.
          val name = if (pass == 0) Workloads.EtlWarmup else "etl_pass"
          val ok = op(name) { stats = Some(etl.pass(plan, spans)) }
          for ((s, written) <- stats) {
            if (pass > 0) layerExtra("etl.rows_timed") += s.rowsIngested
            layerExtra("etl.rows_ingested") += s.rowsIngested
            layerExtra("etl.arrow_rows") += s.arrowRows
            layerExtra("etl.arrow_bytes") += s.arrowBytes
            layerExtra("etl.protobuf_bytes") += s.protobufBytes
            layerExtra("etl.files_committed") += s.filesCommitted
            layerExtra("etl.files_skipped") += s.filesSkipped
            if (ok && pass == 0) {
              val bad = try etl.check(plan, s, written) catch {
                case NonFatal(e) => Seq(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
              }
              if (bad.nonEmpty) {
                failures ++= bad.map(b => s"etl_pass: $b")
                ops(ops.size - 1) = ops.last.copy(ok = false, error = bad.mkString("; "))
              }
            }
          }
          etl.cleanup(plan)
          if (pass > 0) passWalls += ops.last.wallS
          pass += 1
        } while (morePasses(2))

      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    if (traced) PerfbenchBridge.drain(sc)
    val calibPost = if (traced) Calib.probe(Cores) else Map.empty[String, Double]

    val base = Map[String, Any](
      "workload" -> workload,
      "seed" -> seed,
      "setup_s" -> setupS,
      "ops" -> ops.toSeq.map(o => Map("name" -> o.name, "wall_s" -> o.wallS, "ok" -> o.ok, "error" -> o.error)),
      "pass_s" -> passWalls.toSeq,
      "loop_and_checks_s" -> (System.nanoTime() - loopStart) / 1e9,
      "rows_ingested" -> layerExtra("etl.rows_timed"),
      "failures" -> failures.toSeq,
      "gate_outputs" -> gateOutputs.toMap)
    val tracepart =
      if (!traced) Map.empty[String, Any]
      else Map(
        "layers" -> Layers.metrics(spans.done.toSeq, listener, ops.toSeq,
          layerExtra.toMap.withDefaultValue(0.0), opSpans.toMap),
        "fingerprints" -> fingerprints(listener, spans.done.toSeq, opSpans.toMap,
          LayerListener.normalizer(sfDir, upDir, workDir)),
        "calib" -> Map("pre" -> calibPre, "post" -> calibPost))
    spark.stop()
    base ++ tracepart
  }

  private def markFailed(ops: mutable.ArrayBuffer[Op], name: String): Unit =
    ops.indices.filter(i => ops(i).name == name).foreach(i => ops(i) = ops(i).copy(ok = false))

  /** Step -> fingerprint of the plan its forcing write executed. */
  private def fingerprints(l: LayerListener, spans: Seq[Span],
      opSpans: Map[String, mutable.ArrayBuffer[String]],
      normalize: String => String): Map[String, String] = {
    val execIds = spans.filter(s => s.layer == "ops.exec" || s.layer == "functions.exec").map(_.id).toSet
    opSpans.flatMap { case (gate, ids) =>
      ids.filter(execIds).flatMap(id => l.plans.getOrElse(id, Nil)).flatMap(_.plan).lastOption
        .map(p => gate -> LayerListener.fingerprint(p, normalize))
    }
  }

}

/** Fixed CPU spin at 1 and N threads (the `graft.Bench` calib idea): on a
  * quiet host the two wall times match; a stretched N-thread leg marks a
  * loaded window. Informational only.
  */
object Calib {
  @volatile private var sink = 0L

  private def spin(iters: Long, seed: Long): Long = {
    var x = seed | 1L
    var i = 0L
    while (i < iters) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    x
  }

  def probe(threads: Int): Map[String, Double] = {
    sink ^= spin(2000000L, 42L)
    val iters = 100000000L
    val t0 = System.nanoTime()
    sink ^= spin(iters, 42L)
    val one = (System.nanoTime() - t0) / 1e9
    val acc = new java.util.concurrent.atomic.AtomicLong
    val pool = (1 to threads).map(k => new Thread(() => { acc.addAndGet(spin(iters, 42L + k)); () }))
    val t1 = System.nanoTime()
    pool.foreach(_.start())
    pool.foreach(_.join())
    val n = (System.nanoTime() - t1) / 1e9
    sink ^= acc.get()
    Map("t1_s" -> one, s"t${threads}_s" -> n)
  }
}

/** Scala values -> Java collections for Jackson. */
object Json {
  def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] =>
      val out = new java.util.ArrayList[Any]()
      s.foreach(x => out.add(toJava(x)))
      out
    case other => other
  }
}
