package perfbench

import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.PerfbenchBridge
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed call the benchmark made into a library module. */
final case class Span(id: String, layer: String, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Times the benchmark's calls into the library, one flat span per call.
  *
  * When `stamp` is set (traced runs) every span also tags the Spark work
  * it causes: the span id becomes the job group, a thread-local property
  * Spark copies into each job's properties and each SQL execution's
  * start event. The listener attributes work by that tag, never by time
  * window — the listener bus is asynchronous, so a window would credit a
  * gate's eager build jobs to whichever span was open when the events
  * arrived. Spans never nest: each job belongs to exactly one span.
  */
final class Spans(sc: SparkContext, stamp: Boolean) {
  private var next = 0
  val done = mutable.ArrayBuffer.empty[Span]

  def apply[T](layer: String, name: String)(body: => T): T = {
    next += 1
    val id = s"pb-$next"
    if (stamp) sc.setJobGroup(id, s"$layer:$name", interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      if (stamp) sc.clearJobGroup()
      done += Span(id, layer, name, t0, t1)
    }
  }
}

/** Task-level work attributed to one span. */
final class TaskAgg {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var peakExecMem = 0L
  /** (launch, finish) wall-clock ms of every task, for busy-time unions. */
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Catalyst record of one finished SQL execution. The executed plan is
  * kept (not hashed) so fingerprinting happens after the timed loop.
  */
final case class PlanRecord(
    analysisMs: Long,
    optimizationMs: Long,
    planningMs: Long,
    graftRuleNs: Long,
    graftRuleCalls: Long,
    graftRuleEffective: Long,
    plan: Option[SparkPlan])

/** Bench-owned listener: Spark jobs, stages and tasks plus the Catalyst
  * phases of every SQL execution, keyed by the span id that caused them.
  * Read it only after [[PerfbenchBridge.drain]].
  */
final class LayerListener extends SparkListener {
  private val jobSpan = mutable.Map.empty[Int, String]
  private val stageSpan = mutable.Map.empty[Int, String]
  private val execSpan = mutable.Map.empty[Long, String]
  /** span -> Catalyst records of the SQL executions it started */
  val plans = mutable.Map.empty[String, mutable.ArrayBuffer[PlanRecord]]
  /** span -> jobs started */
  val jobs = mutable.Map.empty[String, Int].withDefaultValue(0)
  /** span -> jobs whose first stage is a parquet schema inference */
  val schemaJobs = mutable.Map.empty[String, Int].withDefaultValue(0)
  /** span -> summed wall ms of those schema-inference jobs */
  val schemaJobMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  /** span -> stages completed */
  val stages = mutable.Map.empty[String, Int].withDefaultValue(0)
  val tasks = mutable.Map.empty[String, TaskAgg]
  private val jobStartMs = mutable.Map.empty[Int, (Long, Boolean)]

  private def spanOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("pb-"))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach { s =>
      jobSpan(e.jobId) = s
      e.stageIds.foreach(id => stageSpan.getOrElseUpdate(id, s))
      jobs(s) += 1
      // Schema discovery of a bare `spark.read.parquet` runs as its own
      // job whose stage is named after the reader call site.
      val schema = e.stageInfos.sortBy(_.stageId).headOption
        .exists(_.name.startsWith("parquet at "))
      if (schema) schemaJobs(s) += 1
      jobStartMs(e.jobId) = (e.time, schema)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (s <- jobSpan.get(e.jobId); (t0, schema) <- jobStartMs.remove(e.jobId) if schema)
      schemaJobMs(s) += e.time - t0
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(s => stages(s) += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = tasks.getOrElseUpdate(s, new TaskAgg)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inputBytes += m.inputMetrics.bytesRead
      a.inputRecords += m.inputMetrics.recordsRead
      a.outputBytes += m.outputMetrics.bytesWritten
      a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
      a.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.filter(_.startsWith("pb-")).foreach { id =>
        synchronized { execSpan(s.executionId) = id }
      }
    case end: SparkListenerSQLExecutionEnd =>
      for (span <- synchronized(execSpan.get(end.executionId));
           (qe, ok) <- PerfbenchBridge.queryExecution(end)) {
        val rec = record(qe, if (ok) Some(qe.executedPlan) else None)
        synchronized { plans.getOrElseUpdate(span, mutable.ArrayBuffer.empty) += rec }
      }
    case _ =>
  }

  private def record(qe: QueryExecution, plan: Option[SparkPlan]): PlanRecord = {
    val t = qe.tracker
    def phase(n: String) = t.phases.get(n).map(_.durationMs).getOrElse(0L)
    val graft = t.rules.filter(_._1.startsWith("graft."))
    PlanRecord(
      phase("analysis"), phase("optimization"), phase("planning"),
      graft.values.map(_.totalTimeNs).sum,
      graft.values.map(_.numInvocations.toLong).sum,
      graft.values.map(_.numEffectiveInvocations.toLong).sum,
      plan)
  }
}

object LayerListener {

  /** Hash of [[canonicalText]]. */
  def fingerprint(plan: SparkPlan, normalize: String => String): String =
    MessageDigest.getInstance("SHA-256").digest(canonicalText(plan, normalize).getBytes("UTF-8"))
      .take(8).map(b => f"${b & 0xff}%02x").mkString

  /** The executed plan as text with everything run-specific removed:
    * adaptive wrappers are replaced by their final plans, expression ids
    * are normalized by `canonicalized`, `normalize` removes scratch paths
    * and random suffixes, and [[blankIds]] the remaining numbering.
    */
  def canonicalText(plan: SparkPlan, normalize: String => String): String = {
    val p = plan.transformUp { case a: AdaptiveSparkPlanExec => a.executedPlan }
    val text = scala.util.Try(p.canonicalized.treeString).getOrElse(p.treeString)
    blankIds(normalize(text))
  }

  /** Blanks ids that number plan nodes rather than describe them: leftover
    * expression ids (`#12`), `plan_id=7`, `[3]`, and the query-stage
    * (`ShuffleQueryStage 22`) and codegen-stage (`*(10)`) ids. Adaptive
    * execution numbers stages in the order they happen to be created, so
    * the same plan reads with other stage ids from run to run.
    */
  def blankIds(text: String): String = text
    .replaceAll("#\\d+", "#")
    .replaceAll("plan_id=\\d+", "plan_id=")
    .replaceAll("\\[\\d+\\]", "[]")
    .replaceAll("QueryStage \\d+", "QueryStage")
    .replaceAll("\\*\\(\\d+\\)", "*()")

  /** Removes `dirs` and random hex suffixes (UUIDs, temp names). */
  def normalizer(dirs: String*): String => String = { s =>
    dirs.foldLeft(s)((acc, d) => acc.replace(d, "<dir>"))
      .replaceAll("[0-9a-f]{8}(-?[0-9a-f]{4}){0,3}(-?[0-9a-f]{12})?", "<hex>")
  }

  /** Total length of the union of closed intervals. */
  def unionMs(intervals: Iterable[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s
        curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }
}
