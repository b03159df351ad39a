package graft.streaming

import graft.SparkSuite

/** E6 dead-set view/replay/delete over the offset-marker design. */
class DeadSetSpec extends SparkSuite {

  private def seed(topics: FileTopicIO, n: Int): Unit =
    topics.append(envelopes("app", (0 until n).map(i =>
      (s"k$i", s"v$i", ts(f"2024-01-01 00:00:${i}%02d")))), "app_dead_letter")

  test("view peeks without advancing; delete advances the marker") {
    val dir = tmpDir("deadset")
    val topics = new FileTopicIO(s"$dir/topics")
    val ds = new DeadSet(topics, s"$dir/markers")
    seed(topics, 5)

    assert(ds.view(spark, "app", 3).count() == 3)
    assert(ds.view(spark, "app", 3).count() == 3) // peek again, unchanged
    assert(ds.delete(spark, "app", 2) == 2)
    val remaining = ds.view(spark, "app", 10).collect()
    assert(remaining.length == 3)
    assert(remaining.map(_.getAs[Long]("offset")).min == 2)
  }

  test("replay copies to instant topic and acks") {
    val dir = tmpDir("deadset2")
    val topics = new FileTopicIO(s"$dir/topics")
    val ds = new DeadSet(topics, s"$dir/markers")
    seed(topics, 4)

    assert(ds.replay(spark, "app", 2) == 2)
    assert(topics.read(spark, "app_instant").count() == 2)
    assert(ds.view(spark, "app", 10).count() == 2)
    // replay the rest; dead set drains
    assert(ds.replay(spark, "app", 10) == 2)
    assert(ds.view(spark, "app", 10).count() == 0)
    assert(topics.read(spark, "app_instant").count() == 4)
  }

  test("two concurrent replays of the same N publish each dead message " +
      "exactly once (per-entity lock serializes the marker RMW)") {
    val dir = tmpDir("deadset4")
    val topics = new FileTopicIO(s"$dir/topics")
    val ds = new DeadSet(topics, s"$dir/markers")
    seed(topics, 6)

    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    val gate = new CountDownLatch(1)
    val replayed = new java.util.concurrent.atomic.AtomicLong(0)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    (1 to 2).foreach { _ =>
      pool.submit(new Runnable {
        def run(): Unit = try {
          gate.await()
          replayed.addAndGet(ds.replay(spark, "app", 6))
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    gate.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    assert(errs.isEmpty, s"replay threw: ${errs.peek()}")
    // one replay wins all 6; the loser sees the advanced marker → 0
    assert(replayed.get() == 6)
    assert(topics.read(spark, "app_instant").count() == 6)
    assert(ds.view(spark, "app", 10).count() == 0)
  }

  test("replay resets retryCount: a record dead-lettered by a direct " +
      "dead_letter disposition carries its RESIDUAL count (possibly 0), " +
      "and replaying that residue would re-dead-letter the record on its " +
      "first failure instead of granting the fresh cycle replay promises") {
    val dir = tmpDir("deadset5")
    val topics = new FileTopicIO(s"$dir/topics")
    val ds = new DeadSet(topics, s"$dir/markers")
    import org.apache.spark.sql.functions.lit
    topics.append(
      envelopes("app", Seq(("k0", "v0", ts("2024-01-01 00:00:00"))))
        .withColumn("retryCount", lit(0)),
      "app_dead_letter")
    assert(ds.replay(spark, "app", 5) == 1)
    val replayed = topics.read(spark, "app_instant").collect()
    assert(replayed.length == 1)
    assert(replayed.head.isNullAt(replayed.head.fieldIndex("retryCount")),
      "residual retryCount must be cleared on replay")
    assert(replayed.head.isNullAt(replayed.head.fieldIndex("nextAttemptAt")))
  }

  test("marker writes are atomic renames: the ack floor is either old or " +
      "new, never torn — no .tmp sibling survives, and a stale .tmp from " +
      "a crashed writer is replaced harmlessly") {
    val dir = tmpDir("deadset6")
    val topics = new FileTopicIO(s"$dir/topics")
    val ds = new DeadSet(topics, s"$dir/markers")
    seed(topics, 3)
    // a crashed writer's leftover temp, with torn content
    val stale = java.nio.file.Paths.get(s"$dir/markers/app_dlq_marker.tmp")
    java.nio.file.Files.createDirectories(stale.getParent)
    java.nio.file.Files.write(stale, "3:".getBytes)
    assert(ds.delete(spark, "app", 1) == 1)
    assert(!java.nio.file.Files.exists(stale),
      "the temp must be renamed in, not left beside the marker")
    assert(ds.markers("app").get(0).contains(0L))
    assert(ds.view(spark, "app", 10).count() == 2)
  }

  test("empty dead set: all operations are no-ops") {
    val dir = tmpDir("deadset3")
    val topics = new FileTopicIO(s"$dir/topics")
    val ds = new DeadSet(topics, s"$dir/markers")
    assert(ds.view(spark, "nothere", 5).count() == 0)
    assert(ds.delete(spark, "nothere", 5) == 0)
    assert(ds.replay(spark, "nothere", 5) == 0)
  }

  test("multi-partition DLQ (Kafka shape): markers advance PER PARTITION — " +
      "acking rows of one partition never hides unacked offsets of " +
      "another") {
    import org.apache.spark.sql.{DataFrame, SparkSession}
    import org.apache.spark.sql.functions._
    // Kafka-shaped transport: per-partition offsets (0..4 on p0, 0..2 on
    // p1 — overlapping numbers, only within-partition order means
    // anything); appends are recorded, offsets NOT reassigned
    val appended = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val dlq = envelopes("app", (0 until 5).map(i =>
        (s"p0-$i", "v", ts(f"2024-01-01 00:00:0$i"))))
      .unionByName(envelopes("app", (0 until 3).map(i =>
        (s"p1-$i", "v", ts(f"2024-01-01 00:00:0$i"))))
        .withColumn("partition", lit(1)))
    val kafkaish = new TopicIO {
      def read(s: SparkSession, topic: String): DataFrame =
        if (topic == "app_dead_letter") dlq
        else spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          Envelope.schema)
      def readStream(s: SparkSession, topic: String,
          o: Map[String, String]): DataFrame = read(s, topic)
      def append(df: DataFrame, topic: String): Unit =
        appended.synchronized { appended += topic -> df.count() }
      def maxOffset(s: SparkSession, topic: String): Long = -1L
    }
    val dir = tmpDir("deadset5")
    val ds = new DeadSet(kafkaish, s"$dir/markers")
    assert(ds.view(spark, "app", 100).count() == 8)
    // first 3 by (offset, partition): (0,p0), (0,p1), (1,p0)
    assert(ds.delete(spark, "app", 3) == 3)
    assert(ds.markers("app") == Map(0 -> 1L, 1 -> 0L))
    val live = ds.view(spark, "app", 100).collect()
      .map(r => (r.getAs[Int]("partition"), r.getAs[Long]("offset"))).toSet
    // a single global marker (= 1) would have hidden p1's unacked
    // offset 1 forever; per-partition floors keep it live
    assert(live == Set((0, 2L), (0, 3L), (0, 4L), (1, 1L), (1, 2L)),
      s"got $live")
    // replay the rest: all 5 published once, markers at the tails
    assert(ds.replay(spark, "app", 100) == 5)
    assert(appended.toSeq == Seq("app_instant" -> 5L))
    assert(ds.view(spark, "app", 100).count() == 0)
    assert(ds.markers("app") == Map(0 -> 4L, 1 -> 2L))
  }

  test("a marker line that is not partition:offset fails loudly, naming " +
      "the marker file: guessing a floor would hide or re-expose records") {
    val dir = tmpDir("deadset6")
    val ds = new DeadSet(new FileTopicIO(s"$dir/topics"), s"$dir/markers")
    val markers = java.nio.file.Paths.get(s"$dir/markers")
    java.nio.file.Files.createDirectories(markers)
    java.nio.file.Files.write(markers.resolve("ok_dlq_marker"),
      "*:4\n0:7".getBytes)
    assert(ds.markers("ok") == Map(-1 -> 4L, 0 -> 7L))
    assert(ds.marker("ok") == 4L)
    // a bare number (the single-floor format), a torn line, junk
    for ((entity, body) <- Seq("bare" -> "1", "torn" -> "0:3\n1:",
        "junk" -> "p0:3")) {
      java.nio.file.Files.write(
        markers.resolve(s"${entity}_dlq_marker"), body.getBytes)
      val e = intercept[IllegalStateException](ds.markers(entity))
      assert(e.getMessage.contains(s"${entity}_dlq_marker"), e.getMessage)
      intercept[IllegalStateException](ds.delete(spark, entity, 1))
    }
  }
}
