package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Engine wiring of the exact-time retry reader (startExactRetryReader →
  * RetryTimers.release → dispatch): due records dispatch on the first
  * trigger, parked records dispatch when their timer fires — with no
  * requeue traffic on the retry topic in between. */
class ExactRetrySpec extends SparkSuite {

  test("exact retry reader dispatches due-now immediately and timed records at their deadline") {
    val dir = tmpDir("exact-retry")
    val topics = new FileTopicIO(s"$dir/topics")
    val route = StreamRouteConfig(
      topicEntity = "app", originTopic = "app_origin",
      retry = RetryConfig(enabled = true, count = 3))
    val engine = new GraftEngine(spark,
      EngineConfig(streamRoutes = Map("app" -> route)), topics, s"$dir/ckpt")

    val sess = spark
    import sess.implicits._
    def env(now: Long, off: Long, dueInMs: Option[Long]): Envelope =
      Envelope(s"k$off".getBytes, s"v$off".getBytes, "app_retry", 0, off,
        new java.sql.Timestamp(now), "app", retryCount = Some(1),
        nextAttemptAt = dueInMs.map(d => new java.sql.Timestamp(now + d)))

    // start the reader FIRST — query startup takes seconds; timers are set
    // relative to batch processing time, so seed only once it is running
    engine.startExactRetryReader(route, identity,
      Dispatch.ExprHandler(lit("dead_letter")))
    Thread.sleep(3000)
    val now = System.currentTimeMillis
    topics.append(Seq(
      env(now, 1, None),            // due immediately
      env(now, 2, Some(-5000L)),    // past due
      env(now, 3, Some(15000L))     // parked ~15 s
    ).toDF(), EngineConfig.retryTopic("app"))

    def dlq(): Long =
      try topics.read(spark, EngineConfig.deadLetterTopic("app")).count()
      catch { case _: Throwable => 0L }
    def awaitUntil(deadline: Long)(cond: => Boolean): Unit =
      while (!cond && System.currentTimeMillis < deadline) Thread.sleep(250)
    try {
      awaitUntil(now + 12000)(dlq() == 2L)
      assert(dlq() == 2L, s"due-now records should dispatch first; got ${dlq()}")
      awaitUntil(now + 40000)(dlq() == 3L)
      assert(dlq() == 3L, s"parked record did not dispatch on its timer")
    } finally engine.stopAll()
  }
}
