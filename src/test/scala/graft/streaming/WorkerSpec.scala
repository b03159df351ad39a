package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Channel workers (D2/E2) and instant-topic workers through the engine. */
class WorkerSpec extends SparkSuite {

  test("channel fan-out: dispatch writes channel topic, worker consumes with channel-scoped retry") {
    val dir = tmpDir("chan")
    val topics = new FileTopicIO(s"$dir/topics")
    val route = StreamRouteConfig(
      topicEntity = "app", originTopic = "app_origin",
      retry = RetryConfig(enabled = true, count = 3),
      channels = Map("geo" -> ChannelConfig("geo", workerCount = 2,
        retry = RetryConfig(enabled = true, count = 1,
          backoffType = BackoffType.Linear, queueTimeoutMs = 0L))))
    val cfg = EngineConfig(streamRoutes = Map("app" -> route))
    val engine = new GraftEngine(spark, cfg, topics, s"$dir/ckpt")

    topics.append(envelopes("app", Seq(
      ("k1", "to-geo", new java.sql.Timestamp(System.currentTimeMillis)),
      ("k2", "to-geo", new java.sql.Timestamp(System.currentTimeMillis)))),
      "app_origin")

    // origin handler fans everything to the geo channel
    engine.startStreamRoute(route, identity,
      Dispatch.ExprHandler(lit("channel:geo")), Trigger.AvailableNow())
      .awaitTermination()
    assert(topics.read(spark, "app_channel_geo").count() == 2)
    assert(engine.metrics.count("app.message.channel") == 2)

    // channel worker: one succeeds, one retries into the channel's own cycle
    val chHandler = Dispatch.ExprHandler(
      when(col("key").cast("string") === "k1", "success").otherwise("retry"))
    engine.startChannelWorker(route, "geo", identity, chHandler,
      Trigger.AvailableNow()).awaitTermination()
    assert(engine.metrics.count("app_channel_geo.message.success") == 1)
    assert(engine.metrics.count("app_channel_geo.message.retry") == 1)
    // channel-scoped retry topic, not the route's
    assert(topics.read(spark, "app_channel_geo_retry").count() == 1)
    assert(topics.read(spark, "app_retry").count() == 0)

    // the channel's retry cycle COMPLETES: its own retry reader consumes
    // the channel retry topic (previously no reader existed or was
    // startable for it — retryable channel records were parked forever,
    // never retried, never dead-lettered) and the second failure
    // exhausts the count-1 budget into the channel's OWN dead-letter
    // topic, where the dead set can see it
    engine.startChannelRetryReader(route, "geo", identity, chHandler,
      Trigger.AvailableNow()).awaitTermination()
    assert(topics.read(spark, "app_channel_geo_dead_letter").count() == 1,
      "the exhausted channel record must reach the channel DLQ")
    assert(topics.read(spark, "app_dead_letter").count() == 0,
      "never the route's DLQ")
    engine.stopAll()
  }

  test("channel publication starts a FRESH retry cycle: a record that " +
      "burned origin retries arrives on the channel topic with NULL " +
      "retry state, not the origin's residue") {
    val dir = tmpDir("chanfresh")
    val topics = new FileTopicIO(s"$dir/topics")
    val route = StreamRouteConfig(
      topicEntity = "app", originTopic = "app_origin",
      retry = RetryConfig(enabled = true, count = 3,
        backoffType = BackoffType.Linear, queueTimeoutMs = 0L),
      channels = Map("geo" -> ChannelConfig("geo",
        retry = RetryConfig(enabled = true, count = 5,
          backoffType = BackoffType.Linear, queueTimeoutMs = 0L))))
    val engine = new GraftEngine(spark,
      EngineConfig(streamRoutes = Map("app" -> route)), topics, s"$dir/ckpt")
    topics.append(envelopes("app", Seq(
      ("k1", "v", new java.sql.Timestamp(System.currentTimeMillis)))),
      "app_origin")
    // burn one origin retry hop: the retry-topic copy carries
    // retryCount = 2 (of 3)
    engine.startStreamRoute(route, identity,
      Dispatch.ExprHandler(lit("retry")), Trigger.AvailableNow())
      .awaitTermination()
    val onRetry = topics.read(spark, "app_retry")
      .select("retryCount").collect()
    assert(onRetry.length == 1 && onRetry(0).getInt(0) == 2,
      s"fixture self-check: ${onRetry.mkString(",")}")
    // the retry hop routes to the channel: the channel copy must NOT
    // inherit retryCount=2 — the channel's enrichMetadata would report
    // phantom hops and its dispatch would exhaust 2 hops early
    engine.startRetryReader(route, identity,
      Dispatch.ExprHandler(lit("channel:geo")), Trigger.AvailableNow())
      .awaitTermination()
    val onChannel = topics.read(spark, "app_channel_geo")
      .select("retryCount", "nextAttemptAt").collect()
    assert(onChannel.length == 1, onChannel.mkString(","))
    assert(onChannel(0).isNullAt(0) && onChannel(0).isNullAt(1),
      s"channel record must start a fresh cycle: ${onChannel(0)}")
    engine.stopAll()
  }

  test("channel retry reader honors the route's release mode: with " +
      "exactRetryRelease the channel cycle gets the timer-based exact " +
      "reader, not the due-filter reader quantized to the trigger " +
      "interval (the route and channel cycles must agree on semantics)") {
    val dir = tmpDir("chanexact")
    val topics = new FileTopicIO(s"$dir/topics")
    val route = StreamRouteConfig(
      topicEntity = "app", originTopic = "app_origin",
      exactRetryRelease = true,
      channels = Map("geo" -> ChannelConfig("geo", workerCount = 1,
        retry = RetryConfig(enabled = true, count = 1))))
    val engine = new GraftEngine(spark,
      EngineConfig(streamRoutes = Map("app" -> route)),
      topics, s"$dir/ckpt")
    topics.provision("app_channel_geo", Nil)
    engine.startChannelRetryReader(route, "geo", identity,
      Dispatch.ExprHandler(lit("success")))
    assert(engine.runningQueries.contains("retry-exact-app_channel_geo"),
      engine.runningQueries.keys.mkString(","))
    assert(!engine.runningQueries.contains("retry-app_channel_geo"))
    engine.stopAll()
  }

  test("batch-route retry cycle COMPLETES: the batch retry reader " +
      "consumes the batch entity's retry topic (previously nothing did — " +
      "retryable batch records were parked forever, never retried, never " +
      "dead-lettered) and the batch instant worker reprocesses dead-set " +
      "replays through the batch contract") {
    val dir = tmpDir("batchretry")
    val topics = new FileTopicIO(s"$dir/topics")
    val route = BatchRouteConfig("bt", "bt_origin",
      retry = RetryConfig(enabled = true, count = 1,
        backoffType = BackoffType.Linear, queueTimeoutMs = 0L))
    val engine = new GraftEngine(spark,
      EngineConfig(batchRoutes = Map("bt" -> route)), topics, s"$dir/ckpt")
    topics.append(envelopes("bt", Seq(
      ("k1", "fine", new java.sql.Timestamp(System.currentTimeMillis)),
      ("k2", "flaky", new java.sql.Timestamp(System.currentTimeMillis)))),
      "bt_origin")

    // E7 contract: only {skip, retry}; k2 always retries
    val handler = Dispatch.ExprHandler(
      when(col("key").cast("string") === "k1", "skip").otherwise("retry"))
    engine.startBatchRoute(route, identity, handler, Trigger.AvailableNow())
      .awaitTermination()
    assert(engine.metrics.count("bt.message.skip") == 1)
    assert(topics.read(spark, "bt_retry").count() == 1,
      "the retryable record lands in the batch entity's retry topic")

    // the reader drains the cycle: second failure exhausts count=1 into
    // the batch entity's own DLQ
    engine.startBatchRetryReader(route, identity, handler,
      Trigger.AvailableNow()).awaitTermination()
    assert(topics.read(spark, "bt_dead_letter").count() == 1,
      "the exhausted batch record must reach the batch DLQ")

    // dead-set replay re-publishes to bt_instant; the batch instant
    // worker reprocesses it (skip this time)
    assert(engine.deadSet.replay(spark, "bt", 5) == 1)
    val skipAll = Dispatch.ExprHandler(lit("skip"))
    engine.startBatchInstantWorker(route, identity, skipAll,
      Trigger.AvailableNow()).awaitTermination()
    assert(engine.metrics.count("bt.message.skip") == 2,
      "the replayed record must flow through the batch contract")
    engine.stopAll()
  }

  test("unknown channel name is rejected") {
    val dir = tmpDir("chan2")
    val topics = new FileTopicIO(s"$dir/topics")
    val route = StreamRouteConfig("app", "app_origin")
    val engine = new GraftEngine(spark,
      EngineConfig(streamRoutes = Map("app" -> route)), topics, s"$dir/ckpt")
    intercept[IllegalArgumentException] {
      engine.startChannelWorker(route, "nope", identity,
        Dispatch.ExprHandler(lit("success")))
    }
  }

  test("instant worker reprocesses dead-set replays end-to-end (E6 → S4)") {
    val dir = tmpDir("instant")
    val topics = new FileTopicIO(s"$dir/topics")
    val route = StreamRouteConfig("app", "app_origin",
      retry = RetryConfig(enabled = true, count = 2))
    val engine = new GraftEngine(spark,
      EngineConfig(streamRoutes = Map("app" -> route)), topics, s"$dir/ckpt")

    // seed the DLQ directly, replay via the dead-set manager
    topics.append(envelopes("app", Seq(
      ("k", "recovered", new java.sql.Timestamp(System.currentTimeMillis)))),
      "app_dead_letter")
    assert(engine.deadSet.replay(spark, "app", 5) == 1)

    engine.startInstantWorker(route, identity,
      Dispatch.ExprHandler(lit("success")), Trigger.AvailableNow())
      .awaitTermination()
    assert(engine.metrics.count("app.message.success") == 1)
    engine.stopAll()
  }
}
