package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** E1/E2/E3 dispatch semantics over the file transport. */
class DispatchSpec extends SparkSuite {
  import DispatchSpec._

  private def route(dir: String) = StreamRouteConfig(
    topicEntity = "app", originTopic = "app-topic",
    retry = RetryConfig(enabled = true, count = 3,
      backoffType = BackoffType.Linear, queueTimeoutMs = 0L),
    channels = Map("c1" -> ChannelConfig("c1")))

  test("dispatch routes success/skip/retry/dead_letter/channel correctly") {
    val dir = tmpDir("dispatch")
    val topics = new FileTopicIO(dir)
    val batch = envelopes("app", Seq(
      ("k1", "ok", ts("2024-01-01 00:00:00")),
      ("k2", "skipme", ts("2024-01-01 00:00:01")),
      ("k3", "boom", ts("2024-01-01 00:00:02")),
      ("k4", "dead", ts("2024-01-01 00:00:03")),
      ("k5", "chan", ts("2024-01-01 00:00:04"))))
    val handler = Dispatch.ExprHandler(
      when(col("value").cast("string") === "ok", "success")
        .when(col("value").cast("string") === "skipme", "skip")
        .when(col("value").cast("string") === "boom", "retry")
        .when(col("value").cast("string") === "dead", "dead_letter")
        .otherwise("channel:c1"))
    val counts = Dispatch.dispatch(route(dir), topics, handler)(batch)
    assert(counts == Dispatch.Counts(1, 1, 1, 1, 1))

    val retry = topics.read(spark, "app_retry").collect()
    assert(retry.length == 1)
    // first failure: retryCount null → count − 1 (producer.clj:288-293)
    assert(retry(0).getAs[Int]("retryCount") == 2)
    assert(retry(0).getAs[java.sql.Timestamp]("nextAttemptAt") != null)

    assert(topics.read(spark, "app_dead_letter").count() == 1)
    assert(topics.read(spark, "app_channel_c1").count() == 1)
  }

  test("exhausted retries (remaining=0) dead-letter with count restored") {
    val dir = tmpDir("dispatch2")
    val topics = new FileTopicIO(dir)
    val batch = envelopes("app", Seq(("k", "boom", ts("2024-01-01 00:00:00"))))
      .withColumn("retryCount", lit(0))
    val handler = Dispatch.ExprHandler(lit("retry"))
    val counts = Dispatch.dispatch(route(dir), topics, handler)(batch)
    assert(counts.retried == 0 && counts.deadLettered == 1)
    val dead = topics.read(spark, "app_dead_letter").collect()(0)
    // count restored to configured total for dead-set replay (producer.clj:291)
    assert(dead.getAs[Int]("retryCount") == 3)
  }

  test("unknown disposition falls back to retry (mapper.clj:66-69 catch-all)") {
    val dir = tmpDir("dispatch3")
    val topics = new FileTopicIO(dir)
    val batch = envelopes("app", Seq(("k", "x", ts("2024-01-01 00:00:00"))))
    val counts = Dispatch.dispatch(route(dir), topics,
      Dispatch.ExprHandler(lit("whatever")))(batch)
    assert(counts.retried == 1)
    // ...and is COUNTED as invalid (the promised failure signal): folded
    // silently into retry, a garbage-returning handler was operationally
    // indistinguishable from genuine processing failures
    assert(counts.invalid == 1, counts)
  }

  test("an UNCONFIGURED channel name takes the retry catch-all instead of " +
      "vanishing: only configured channels have a topic to write to") {
    val dir = tmpDir("dispatch-chan")
    val topics = new FileTopicIO(dir)
    val batch = envelopes("app", Seq(("k", "x", ts("2024-01-01 00:00:00"))))
    // typo'd channel: route configures c1, the handler says c2
    val counts = Dispatch.dispatch(route(dir), topics,
      Dispatch.ExprHandler(lit("channel:c2")))(batch)
    assert(counts.retried == 1 && counts.toChannels == 0,
      s"got $counts — the record must be retried, not dropped")
    assert(counts.invalid == 1,
      s"got $counts — the typo must surface in the invalid count")
    assert(topics.read(spark, "app_retry").count() == 1)
    assert(topics.read(spark, "app_channel_c2").count() == 0)
  }

  test("retry enabled with count=0 (no budget): the first failure goes " +
      "straight to the DLQ with the configured count restored — it must " +
      "not decrement to -1 and vanish from both topics on the next hop") {
    val dir = tmpDir("dispatch-zero")
    val topics = new FileTopicIO(dir)
    val r = route(dir).copy(retry = RetryConfig(enabled = true, count = 0,
      backoffType = BackoffType.Linear, queueTimeoutMs = 0L))
    val batch = envelopes("app", Seq(("k", "x", ts("2024-01-01 00:00:00"))))
    val counts = Dispatch.dispatch(r, topics,
      Dispatch.ExprHandler(lit("retry")))(batch)
    assert(counts.retried == 0 && counts.deadLettered == 1, s"got $counts")
    assert(topics.read(spark, "app_retry").count() == 0)
    val dead = topics.read(spark, "app_dead_letter").collect()
    assert(dead.length == 1)
    assert(dead(0).getAs[Int]("retryCount") == 0)
  }

  test("retries disabled → straight to dead letter") {
    val dir = tmpDir("dispatch4")
    val topics = new FileTopicIO(dir)
    val r = route(dir).copy(retry = RetryConfig(enabled = false))
    val batch = envelopes("app", Seq(("k", "x", ts("2024-01-01 00:00:00"))))
    val counts = Dispatch.dispatch(r, topics, Dispatch.ExprHandler(lit("retry")))(batch)
    assert(counts.retried == 0 && counts.deadLettered == 1)
  }

  test("replay-token dispatch is idempotent across micro-batch replays (§7.3.1)") {
    val dir = tmpDir("dispatch6")
    val topics = new FileTopicIO(dir)
    val batch = envelopes("app", Seq(("k", "boom", ts("2024-01-01 00:00:00"))))
    val handler = Dispatch.ExprHandler(lit("retry"))
    // same batch dispatched twice with the same token (simulated replay)
    Dispatch.dispatch(route(dir), topics, handler, Some("route-app-42"))(batch)
    Dispatch.dispatch(route(dir), topics, handler, Some("route-app-42"))(batch)
    assert(topics.read(spark, "app_retry").count() == 1)
    // a different batch id appends again
    Dispatch.dispatch(route(dir), topics, handler, Some("route-app-43"))(batch)
    assert(topics.read(spark, "app_retry").count() == 2)
  }

  /** Mixed batch: every disposition, each retry-state case, a typo'd
    * channel, a NULL disposition and two configured channels. */
  private def mixedBatch() = {
    val at = ts("2024-01-01 00:00:00")
    val sess = spark
    import sess.implicits._
    val rows = Seq(
      ("success", None), ("skip", None), ("retry", None), ("retry", Some(2)),
      ("retry", Some(1)), ("retry", Some(0)), ("dead_letter", Some(1)),
      ("dead_letter", None), ("channel:c1", Some(2)), ("channel:c2", None),
      ("channel:c9", Some(1)), ("null", Some(2)))
    val base = envelopes("app", rows.zipWithIndex.map { case ((d, _), i) =>
      (s"k$i", d, at) })
    val state = rows.zipWithIndex.map { case ((_, rc), i) =>
      (s"k$i", rc, rc.map(_ => ts("2024-01-01 00:01:00")))
    }.toDF("k", "rc", "na")
    base.join(state, base("key").cast("string") === state("k"))
      .withColumn("retryCount", col("rc"))
      .withColumn("nextAttemptAt", col("na"))
      .withColumn("headers", array(struct(lit("h").as("key"),
        col("value").as("value"))))
      .drop("k", "rc", "na")
      .repartition(3)
  }

  private val mixedHandler = Dispatch.ExprHandler(
    when(col("value").cast("string") =!= "null", col("value").cast("string")))

  private def mixedRoute(retry: RetryConfig) = StreamRouteConfig("app",
    "app-topic", retry = retry,
    channels = Map("c1" -> ChannelConfig("c1"), "c2" -> ChannelConfig("c2")))

  private val destinations = Seq("app_retry", "app_dead_letter",
    "app_channel_c1", "app_channel_c2", "app_channel_c9")

  private val timeoutMs = 60000L

  for ((name, retry) <- Seq(
      "retries enabled" -> RetryConfig(enabled = true, count = 3,
        backoffType = BackoffType.Linear, queueTimeoutMs = timeoutMs),
      "retries disabled (DLQ rows keep their retryCount)" ->
        RetryConfig(enabled = false)))
    test(s"the routed emit writes the per-sink path's rows, topic by topic: $name") {
      val batch = mixedBatch().cache()
      val route = mixedRoute(retry)
      val routed = new FileTopicIO(tmpDir("routed"))
      val perSink = new FileTopicIO(tmpDir("per-sink"))
      val t0 = System.currentTimeMillis()
      val counts = Dispatch.dispatch(route, routed, mixedHandler,
        Some("route-app-7"))(batch)
      perSinkDispatch(route, perSink, mixedHandler(batch).withColumn(
        "disposition", coalesce(col("disposition"), lit("invalid:null"))))
      val t1 = System.currentTimeMillis()
      assert(counts == (if (retry.enabled) Dispatch.Counts(1, 1, 5, 3, 2, 2)
        else Dispatch.Counts(1, 1, 0, 8, 2, 2)), counts)
      destinations.foreach { t =>
        assert(rowsOf(routed, t, t0) == rowsOf(perSink, t, t0), t)
      }
      assert(rowsOf(routed, "app_channel_c9", t0).isEmpty)
      if (retry.enabled) {
        // 5 live retries: the typo'd channel and the NULL ride the catch-all
        assert(rowsOf(routed, "app_retry", t0).size == 5)
        // every stamp is now + backoff, taken during the call
        routed.read(spark, "app_retry").collect().foreach { r =>
          val at = r.getAs[java.sql.Timestamp]("nextAttemptAt").getTime
          assert(at >= t0 + timeoutMs && at <= t1 + timeoutMs, r)
        }
      } else {
        assert(routed.read(spark, "app_retry").count() == 0)
        // retry-disabled DLQ rows keep the count they arrived with
        val kept = routed.read(spark, "app_dead_letter")
          .select(col("retryCount")).collect()
          .map(r => Option(r.get(0))).toSeq.sortBy(_.toString)
        assert(kept == Seq(None, None, Some(0), Some(1), Some(1), Some(1),
          Some(2), Some(2)).sortBy(_.toString), kept)
      }
      batch.unpersist()
    }

  test("a forwarding decorator takes the trait's per-topic default and " +
      "writes the same topic contents as the one-pass file transport") {
    val batch = mixedBatch().cache()
    val route = mixedRoute(RetryConfig(enabled = true, count = 3,
      backoffType = BackoffType.Linear, queueTimeoutMs = timeoutMs))
    val direct = new FileTopicIO(tmpDir("direct"))
    val innerDir = tmpDir("forwarded")
    val inner = new FileTopicIO(innerDir)
    val t0 = System.currentTimeMillis()
    Dispatch.dispatch(route, direct, mixedHandler, Some("route-app-8"))(batch)
    Dispatch.dispatch(route, new Forwarding(inner), mixedHandler,
      Some("route-app-8"))(batch)
    destinations.foreach { t =>
      val rows = rowsOf(inner, t, t0)
      assert(rowsOf(direct, t, t0) == rows, t)
      // the default keeps the per-topic idempotent path: one marker each
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(innerDir, t,
        "_applied-route-app-8")) == rows.nonEmpty, t)
    }
    batch.unpersist()
  }

  for ((name, retry) <- Seq(
      "retries enabled" -> RetryConfig(enabled = true, count = 3,
        backoffType = BackoffType.Linear, queueTimeoutMs = timeoutMs),
      "retries disabled" -> RetryConfig(enabled = false)))
    test(s"a batch route dispatches like a stream route with no channels: $name") {
      val at = ts("2024-01-01 00:00:00")
      val sess = spark
      import sess.implicits._
      val rows = Seq(("skip", None), ("skip", Some(1)), ("retry", None),
        ("retry", Some(2)), ("retry", Some(1)), ("retry", Some(0)))
      val state = rows.zipWithIndex.map { case ((_, rc), i) =>
        (s"k$i", rc, rc.map(_ => ts("2024-01-01 00:01:00")))
      }.toDF("k", "rc", "na")
      val base = envelopes("app", rows.zipWithIndex.map { case ((d, _), i) =>
        (s"k$i", d, at) })
      val batch = base.join(state, base("key").cast("string") === state("k"))
        .withColumn("retryCount", col("rc"))
        .withColumn("nextAttemptAt", col("na"))
        .drop("k", "rc", "na")
        .repartition(2).cache()
      val handler = Dispatch.ExprHandler(col("value").cast("string"))
      val viaBatch = new FileTopicIO(tmpDir("batch-body"))
      val viaStream = new FileTopicIO(tmpDir("stream-body"))
      val t0 = System.currentTimeMillis()
      val batchCounts = Dispatch.dispatchBatchRoute(
        BatchRouteConfig("app", "app-topic", retry = retry), viaBatch,
        handler, Some("batch-app-3"))(batch)
      val streamCounts = Dispatch.dispatch(
        StreamRouteConfig("app", "app-topic", retry = retry), viaStream,
        handler, Some("batch-app-3"))(batch)
      assert(batchCounts == streamCounts)
      assert(batchCounts == (if (retry.enabled) Dispatch.Counts(0, 2, 3, 1, 0)
        else Dispatch.Counts(0, 2, 0, 4, 0)), batchCounts)
      Seq("app_retry", "app_dead_letter").foreach { t =>
        assert(rowsOf(viaBatch, t, t0) == rowsOf(viaStream, t, t0), t)
      }
      batch.unpersist()
    }

  test("simhash near-dup join matches brute force (pigeonhole blocking + hamming64)") {
    val sess = spark
    import sess.implicits._
    val sims = Seq(
      (1L, 0x000000FFL), (2L, 0x000000FEL),   // dist 1
      (3L, 0x0F0F0F0FL), (4L, 0x0F0F0F0BL),   // dist 2
      (5L, 0xFFFFFFFFL), (6L, 0x00000000L)    // dist 32
    ).toDF("doc_id", "simhash")
    val got = graft.operators.DedupOps.simhashNearDups(sims, maxDist = 3)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    // brute force over all pairs
    val rows = sims.collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = (for {
      (a, sa) <- rows; (b, sb) <- rows if a < b
      if java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (a, b)).toSet
    assert(got == want && want == Set((1L, 2L), (3L, 4L)))
  }

  test("batch-route contract rejects dispositions outside {skip, retry} (E7)") {
    val dir = tmpDir("dispatch5")
    val topics = new FileTopicIO(dir)
    val br = BatchRouteConfig("app", "app-topic",
      retry = RetryConfig(enabled = true, count = 2))
    val batch = envelopes("app", Seq(("k", "x", ts("2024-01-01 00:00:00"))))
    intercept[IllegalArgumentException] {
      Dispatch.dispatchBatchRoute(br, topics,
        Dispatch.ExprHandler(lit("success")))(batch)
    }
    val ok = Dispatch.dispatchBatchRoute(br, topics,
      Dispatch.ExprHandler(lit("retry")))(batch)
    assert(ok.retried == 1)
  }

  test("a NULL batch disposition is the same curated invalid-return " +
      "error — not the NPE the unnormalized null used to raise from the " +
      "tallies' exhausted flag before the contract check could fire") {
    val dir = tmpDir("dispatch6")
    val topics = new FileTopicIO(dir)
    val batch = envelopes("app", Seq(("k", "x", ts("2024-01-01 00:00:00"))))
    // when() with no otherwise: every non-matching row gets a NULL
    // disposition — the classic half-written handler
    val nullHandler = Dispatch.ExprHandler(
      when(col("key").cast("string") === "never", "skip"))
    for (retry <- Seq(RetryConfig(enabled = true, count = 2), RetryConfig())) {
      val br = BatchRouteConfig("app", "app-topic", retry = retry)
      val ex = intercept[IllegalArgumentException] {
        Dispatch.dispatchBatchRoute(br, topics, nullHandler)(batch)
      }
      assert(ex.getMessage.contains("outside {skip, retry}"), ex.getMessage)
    }
  }
}

object DispatchSpec {
  import org.apache.spark.sql.{DataFrame, SparkSession}

  /** The per-sink emit the routed one replaced: filter, rewrite and append
    * once per destination (the reference for the routed emit's rows). */
  def perSinkDispatch(route: StreamRouteConfig, topics: TopicIO,
      handled: DataFrame): Unit = {
    import Envelope.Code
    val cfg = route.retry
    val entity = route.topicEntity
    val known = Set(Code.Success, Code.Skip, Code.Retry, Code.DeadLetter) ++
      route.channels.keys.map(Code.channel)
    val d = col("disposition")
    val toRetry = handled.filter(d === Code.Retry || !d.isin(known.toSeq: _*))
      .drop("disposition")
    val rc = col("retryCount")
    val (retryable, exhausted) =
      if (cfg.enabled) (
        toRetry.filter((rc.isNull && lit(cfg.count > 0)) || rc > 0)
          .withColumn("nextAttemptAt", timestamp_millis(
            unix_millis(current_timestamp()) + RetryEngine.timeoutMsCol(cfg, rc)))
          .withColumn("retryCount", RetryEngine.decrementedCount(cfg, rc)),
        toRetry.filter(rc <= 0 || (rc.isNull && lit(cfg.count <= 0)))
          .withColumn("retryCount", lit(cfg.count))
          .withColumn("nextAttemptAt", lit(null).cast("timestamp")))
      else (toRetry.limit(0), toRetry)
    topics.append(retryable, EngineConfig.retryTopic(entity))
    topics.append(handled.filter(d === Code.DeadLetter).drop("disposition")
      .unionByName(exhausted), EngineConfig.deadLetterTopic(entity))
    route.channels.keys.foreach { ch =>
      topics.append(handled.filter(d === Code.channel(ch)).drop("disposition")
        .withColumn("retryCount", lit(null).cast("int"))
        .withColumn("nextAttemptAt", lit(null).cast("timestamp")),
        EngineConfig.channelTopic(entity, ch))
    }
  }

  /** A topic's rows, every column but `offset`, as a sorted multiset;
    * a `nextAttemptAt` stamped at or after `since` reads as "stamped". */
  def rowsOf(topics: TopicIO, topic: String, since: Long): Seq[String] = {
    val spark = SparkSession.active
    topics.read(spark, topic)
      .withColumn("nextAttemptAt",
        when(col("nextAttemptAt") >= lit(new java.sql.Timestamp(since)),
          lit("stamped")).otherwise(col("nextAttemptAt").cast("string")))
      .drop("offset")
      .select(to_json(struct(col("*"))))
      .collect().map(_.getString(0)).toSeq.sorted
  }

  /** Forwards every call to `inner` and inherits the trait's
    * `appendRouted` — the shape of a timing or logging decorator. */
  final class Forwarding(inner: TopicIO) extends TopicIO {
    def read(spark: SparkSession, topic: String): DataFrame =
      inner.read(spark, topic)
    def readStream(spark: SparkSession, topic: String,
        options: Map[String, String]): DataFrame =
      inner.readStream(spark, topic, options)
    def append(df: DataFrame, topic: String): Unit = inner.append(df, topic)
    override def appendIdempotent(df: DataFrame, topic: String,
        token: String): Unit = inner.appendIdempotent(df, topic, token)
    def maxOffset(spark: SparkSession, topic: String): Long =
      inner.maxOffset(spark, topic)
  }
}
