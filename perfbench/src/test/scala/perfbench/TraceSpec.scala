package perfbench

import org.apache.spark.sql.{PerfbenchBridge, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def traced(): (LayerListener, Spans) = {
    val l = new LayerListener
    spark.sparkContext.addSparkListener(l)
    (l, new Spans(spark.sparkContext, stamp = true))
  }

  test("work is credited to the span that caused it, even when its events arrive late") {
    // A listener ahead of ours on the shared queue stalls delivery, as a
    // busy listener bus does: span a's events arrive while span b is open.
    val slow = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Thread.sleep(1000)
    }
    spark.range(1).count() // pay the first job's warm-up before timing matters
    spark.sparkContext.addSparkListener(slow)
    val (l, spans) = traced()
    spans("ops.build", "a")(spark.range(10).count())
    val seenDuringB = spans("ops.exec", "b") {
      val seen = l.synchronized(l.jobs.values.sum)
      spark.range(5).count()
      seen
    }
    PerfbenchBridge.drain(spark.sparkContext)
    val Seq(a, b) = spans.done.toSeq
    assert(seenDuringB == 0, "span a's job events had not arrived when span b opened")
    // Both spans ran the same query shape, so each owns the same job count.
    assert(l.jobs(a.id) >= 1 && l.jobs(a.id) == l.jobs(b.id))
    assert(l.tasks(a.id).tasks > 0 && l.tasks(b.id).tasks > 0)
    assert(l.plans(a.id).size == 1 && l.plans(b.id).size == 1)
    spark.sparkContext.removeSparkListener(l)
    spark.sparkContext.removeSparkListener(slow)
  }

  test("work outside every span is not attributed") {
    val (l, spans) = traced()
    spark.range(3).count()
    spans("ops.exec", "only")(spark.range(4).count())
    PerfbenchBridge.drain(spark.sparkContext)
    assert(l.jobs.keySet == Set(spans.done.head.id))
    spark.sparkContext.removeSparkListener(l)
  }

  test("plan fingerprints ignore expression ids and see plan changes") {
    val (l, spans) = traced()
    def q(n: Int) = spark.range(100).selectExpr("id % 7 AS k").groupBy("k").count()
      .where(s"count > $n")
    spans("ops.exec", "first")(q(1).collect())
    spans("ops.exec", "again")(q(1).collect())
    spans("ops.exec", "other")(q(1).orderBy("k").collect())
    PerfbenchBridge.drain(spark.sparkContext)
    val Seq(first, again, other) = spans.done.toSeq.map(s =>
      LayerListener.fingerprint(l.plans(s.id).head.plan.get, LayerListener.normalizer()))
    val (d1, d2) = (q(1), q(1))
    d1.collect(); d2.collect()
    val Seq(t1, t2) = Seq(d1, d2).map(d =>
      LayerListener.canonicalText(d.queryExecution.executedPlan, LayerListener.normalizer()))
    assert(t1 == t2, s"\n$t1\n---\n$t2")
    // Stage numbering follows which stage adaptive execution created first.
    assert(LayerListener.blankIds("+- *(10) HashAggregate\n+- ShuffleQueryStage 22") ==
      LayerListener.blankIds("+- *(7) HashAggregate\n+- ShuffleQueryStage 19"))
    assert(first.nonEmpty)
    assert(first == again)
    assert(first != other)
    spark.sparkContext.removeSparkListener(l)
  }

  test("busy time is the union of task intervals") {
    assert(LayerListener.unionMs(Seq.empty) == 0L)
    assert(LayerListener.unionMs(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L)
    assert(LayerListener.unionMs(Seq((3L, 4L), (0L, 10L))) == 10L)
  }
}
