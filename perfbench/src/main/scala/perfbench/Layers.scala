package perfbench

import scala.collection.mutable

/** Per-layer metrics of one traced run, named `<module>.<metric>`.
  *
  * Counts, bytes and seconds are per operation (the run's sum divided by
  * the operations it completed: ETL passes, the warm-up included, or
  * corpus steps), so a run that completes more operations does not read
  * as more work. A module the workload never calls reads 0.
  */
object Layers {
  private val Cores = Main.Cores

  def metrics(
      spans: Seq[Span],
      l: LayerListener,
      ops: Seq[Op],
      extra: Map[String, Double],
      opSpans: Map[String, mutable.ArrayBuffer[String]]): Map[String, Double] = {
    val nOps = math.max(1, ops.size).toDouble
    def in(layer: String) = spans.filter(_.layer == layer)
    def secs(ss: Seq[Span]) = ss.map(_.seconds).sum
    def ids(ss: Seq[Span]) = ss.map(_.id)
    def aggs(ss: Seq[Span]) = ids(ss).flatMap(l.tasks.get)
    def jobs(ss: Seq[Span]) = ids(ss).map(l.jobs).sum.toDouble
    def plansOf(ss: Seq[Span]) = ids(ss).flatMap(l.plans.getOrElse(_, Nil))
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0

    val all = aggs(spans)
    val wall = secs(spans)
    val busyS = LayerListener.unionMs(all.flatMap(_.intervals)) / 1000.0
    val runS = all.map(_.runMs).sum / 1000.0
    val allPlans = plansOf(spans)
    val ingest = in("pipeline.ingest")
    val schemaOutsideRead = ids(spans.filterNot(_.layer == "sources.read"))
      .map(l.schemaJobMs).sum / 1000.0
    val nGateOps = math.max(1, ops.count(o => Workloads.corpusGates.contains(o.name))).toDouble
    val kernelRuns = ops.count(_.name == "kernel")
    val arrowS = secs(in("proto.arrow"))

    val m = mutable.LinkedHashMap[String, Double](
      "sources.read_s" -> (secs(in("sources.read")) + schemaOutsideRead) / nOps,
      "sources.schema_jobs" -> ids(spans).map(l.schemaJobs).sum / nOps,
      "sources.rows_read" -> all.map(_.inputRecords).sum / nOps,
      "sources.bytes_read" -> all.map(_.inputBytes).sum / nOps,
      "sources.pushdown_ratio" -> ratio(extra("etl.rows_ingested"), aggs(ingest).map(_.inputRecords).sum),
      "pipeline.ingest_s" -> secs(ingest) / nOps,
      "pipeline.ingest_rows_per_s" -> ratio(extra("etl.rows_ingested"), secs(ingest)),
      "pipeline.bytes_written" -> aggs(ingest).map(_.outputBytes).sum / nOps,
      "engine.query_s" -> secs(in("engine.query")) / nOps,
      "engine.analysis_s" -> allPlans.map(_.analysisMs).sum / 1000.0 / nOps,
      "engine.optimization_s" -> allPlans.map(_.optimizationMs).sum / 1000.0 / nOps,
      "engine.planning_s" -> allPlans.map(_.planningMs).sum / 1000.0 / nOps,
      "plans.graft_rule_s" -> allPlans.map(_.graftRuleNs).sum / 1e9 / nOps,
      "plans.rule_effective_ratio" ->
        ratio(allPlans.map(_.graftRuleEffective).sum, allPlans.map(_.graftRuleCalls).sum),
      "exec.jobs" -> jobs(spans) / nOps,
      "exec.stages" -> ids(spans).map(l.stages).sum / nOps,
      "exec.tasks" -> all.map(_.tasks).sum / nOps,
      "exec.task_run_s" -> runS / nOps,
      "exec.task_cpu_s" -> all.map(_.cpuNs).sum / 1e9 / nOps,
      "exec.slot_util" -> ratio(runS, wall * Cores),
      "exec.driver_only_s" -> math.max(0.0, wall - busyS) / nOps,
      "exec.shuffle_read_bytes" -> all.map(_.shuffleReadBytes).sum / nOps,
      "exec.shuffle_write_bytes" -> all.map(_.shuffleWriteBytes).sum / nOps,
      "exec.spill_bytes" -> all.map(_.spillBytes).sum / nOps,
      "exec.gc_s" -> all.map(_.gcMs).sum / 1000.0 / nOps,
      "exec.peak_exec_mem_mb" -> all.map(_.peakExecMem).foldLeft(0L)(math.max) / 1048576.0,
      "ops.build_s" -> secs(in("ops.build")) / nGateOps,
      "ops.build_jobs" -> jobs(in("ops.build")) / nGateOps,
      "ops.exec_s" -> secs(in("ops.exec")) / nGateOps)

    // Per corpus gate: mean per execution (0 when the gate did not run).
    val byId = spans.map(s => s.id -> s).toMap
    Workloads.corpusIds.zip(Workloads.corpusGates).foreach { case (id, gate) =>
      val mine = opSpans.getOrElse(gate, mutable.ArrayBuffer.empty).flatMap(byId.get).toSeq
      val runs = math.max(1, ops.count(_.name == gate)).toDouble
      m(s"ops.$id.build_s") = secs(mine.filter(_.layer == "ops.build")) / runs
      m(s"ops.$id.jobs") = jobs(mine) / runs
      m(s"ops.$id.exec_s") = secs(mine.filter(_.layer == "ops.exec")) / runs
    }

    val kernel = in("functions.build") ++ in("functions.exec")
    m("functions.kernel_rows_per_s") = ratio(extra("kernel.rows") * kernelRuns, secs(kernel))
    m("functions.kernel_cpu_s") = aggs(kernel).map(_.cpuNs).sum / 1e9 / math.max(1, kernelRuns)

    m("proto.arrow_s") = arrowS / nOps
    m("proto.arrow_rows_per_s") = ratio(extra("etl.arrow_rows"), arrowS)
    m("proto.arrow_bytes") = extra("etl.arrow_bytes") / nOps
    m("proto.arrow_jobs") = jobs(in("proto.arrow")) / nOps
    m("proto.protobuf_s") = secs(in("proto.protobuf")) / nOps
    m("proto.protobuf_bytes") = extra("etl.protobuf_bytes") / nOps

    m("sinks.write_s") = secs(in("sinks.write")) / nOps
    m("sinks.write_jobs") = jobs(in("sinks.write")) / nOps
    m("sinks.commit_s") = secs(in("sinks.commit")) / nOps
    m("sinks.files_committed") = extra("etl.files_committed") / nOps
    m("sinks.read_skipping_s") = secs(in("sinks.read_skipping")) / nOps
    m("sinks.files_skipped_ratio") = ratio(extra("etl.files_skipped"), extra("etl.files_committed"))
    m.toMap
  }
}
