package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Exponent-ladder parity at the 25-queue cap boundary (count > 25) —
  * the one edge the reference's retry documentation calls out that had
  * no dedicated spec: with `count` retries configured but only
  * MAX_EXPONENTIAL_RETRIES (25) delay queues, the ladder's exponent is
  * max(1, min(25, count) − remaining), so the first `count − 24` hops
  * all reuse the exponent-1 queue and the ladder then climbs to 2^25−1.
  * This spec drives the FULL column path (timeoutMsCol +
  * decrementedCount + dispatch's restore-on-exhaust) over every
  * remaining value in one Spark job and checks it against an
  * independent JVM ladder, for seeded random counts past the cap. */
class ExponentLadderSpec extends SparkSuite {

  test("column-form ladder == JVM reference ladder for counts past the " +
      "25-queue cap, including the clamp floor, the 2^25−1 ceiling, and " +
      "the restore-on-exhaust transition") {
    val sess = spark
    import sess.implicits._
    val rnd = new scala.util.Random(8L)
    for (count <- Seq(26, 30, 50, 100)) {
      val timeout = 100L + rnd.nextInt(5000)
      val cfg = RetryConfig(enabled = true, count = count,
        backoffType = BackoffType.Exponential, queueTimeoutMs = timeout)
      // one row per remaining value, plus the null (first-failure) row
      val rows = (0 to count).map(r => (r.toLong, Option(r)))
        .toDF("id", "remaining") union
        Seq((-1L, Option.empty[Int])).toDF("id", "remaining")
      val got = rows
        .withColumn("t", RetryEngine.timeoutMsCol(cfg, col("remaining")))
        .withColumn("next", RetryEngine.decrementedCount(cfg, col("remaining")))
        .collect()
        .map(r => (r.getLong(0),
          r.getLong(r.fieldIndex("t")), r.getInt(r.fieldIndex("next"))))
        .toSeq.sortBy(_._1)
      // JVM reference: exponent = max(1, min(25, count) - remaining)
      def refT(remaining: Int): Long =
        ((math.pow(2, math.max(1, math.min(25, count) - remaining)) - 1)
          * timeout).toLong
      got.foreach {
        case (-1L, t, next) => // null remaining = first failure
          assert(t == refT(count) && next == count - 1)
        case (id, t, next) =>
          assert(t == refT(id.toInt), s"count=$count remaining=$id")
          assert(next == id.toInt - 1)
          // cross-parity with the Scala-side formula E5 tests use
          assert(t == RetryEngine.exponentialTimeoutMs(cfg, id.toInt))
      }
      // clamp floor: every hop before the cap engages reuses exponent 1
      assert(refT(count) == timeout && refT(26) == timeout,
        "first hops past the cap must reuse the exponent-1 queue")
      // ceiling: the last chance saturates at 2^25 − 1
      assert(refT(0) == ((1L << 25) - 1) * timeout)
      // restore-on-exhaust through the real dispatch routing
      val topics = new FileTopicIO(tmpDir("ladder"))
      val batch = envelopes("app", Seq(("k1", "v", ts("2024-01-01 00:00:00")),
          ("k2", "v", ts("2024-01-01 00:00:01"))))
        .withColumn("retryCount",
          when(col("key").cast("string") === "k1", 0).otherwise(3))
      Dispatch.dispatch(StreamRouteConfig("app", "app-topic", retry = cfg),
        topics, Dispatch.ExprHandler(lit("retry")))(batch)
      val dlq = topics.read(spark, "app_dead_letter").collect()
      assert(dlq.length == 1 &&
        dlq(0).getAs[Int]("retryCount") == count,
        "exhausted record must restore the FULL configured count (a " +
          "dead-set replay starts a fresh cycle)")
      assert(topics.read(spark, "app_retry").select("retryCount")
        .collect().map(_.getInt(0)).toSeq == Seq(2))
    }
  }
}
