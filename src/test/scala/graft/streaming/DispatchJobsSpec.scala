package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Spark jobs per dispatched micro-batch — the per-trigger fixed cost a
  * small stream batch pays. The routed emit writes every destination in
  * one pass, so a mixed batch runs the tallies, one counting job and one
  * write; per-sink emits ran a counting job and a write per destination
  * (7 jobs for retry + DLQ + channel). */
class DispatchJobsSpec extends SparkSuite {

  private val route = StreamRouteConfig("jobs", "jobs-topic",
    retry = RetryConfig(enabled = true, count = 3,
      backoffType = BackoffType.Linear, queueTimeoutMs = 0L),
    channels = Map("c1" -> ChannelConfig("c1")))

  private val handler = Dispatch.ExprHandler(
    when(col("value").cast("string") === "ok", "success")
      .when(col("value").cast("string") === "boom", "retry")
      .when(col("value").cast("string") === "dead", "dead_letter")
      .otherwise("channel:c1"))

  /** A file-source micro-batch: a parquet scan, no exchange. */
  private def batch(values: String*) = {
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    val d = tmpDir("jobs-src")
    envelopes("jobs", values.zipWithIndex.map { case (v, i) => (s"k$i", v, now) })
      .write.mode("overwrite").parquet(d)
    spark.read.parquet(d)
  }

  test("a mixed-disposition dispatch over FileTopicIO runs at most 3 jobs " +
      "(tallies, count, write) and writes every destination") {
    val topics = new FileTopicIO(tmpDir("jobs-mixed"))
    // warm each destination's offset cache, so the pin counts the emit
    // itself and not the first-touch scans
    Seq("jobs_retry", "jobs_dead_letter", "jobs_channel_c1")
      .foreach(topics.maxOffset(spark, _))
    val b = batch("ok", "boom", "dead", "chan", "ok", "boom")
    var counts: Dispatch.Counts = null
    val jobs = jobsOf {
      counts = Dispatch.dispatch(route, topics, handler, Some("route-jobs-0"))(b)
    }
    assert(counts == Dispatch.Counts(2, 0, 2, 1, 1), counts)
    assert(jobs <= 3, s"$jobs jobs for one mixed dispatch")
    assert(topics.read(spark, "jobs_retry").count() == 2)
    assert(topics.read(spark, "jobs_dead_letter").count() == 1)
    assert(topics.read(spark, "jobs_channel_c1").count() == 1)
  }

  test("an all-success dispatch runs exactly one job: the tallies") {
    val topics = new FileTopicIO(tmpDir("jobs-ok"))
    val b = batch("ok", "ok", "ok")
    val jobs = jobsOf {
      Dispatch.dispatch(route, topics, handler, Some("route-jobs-1"))(b)
    }
    assert(jobs == 1, s"$jobs jobs for an all-success dispatch")
  }
}
