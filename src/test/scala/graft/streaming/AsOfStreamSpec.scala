package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

/** Input row for the streaming as-of enrichment — top-level so Spark
  * derives a product encoder. */
case class AsOfEv(key: Long, ts: Timestamp, side: String, value: Double)

/** Pipeline.streamingAsOf: each probe event attaches the latest ref value
  * at-or-before its event time; one state cell per key carries across
  * micro-batches; intra-batch interleavings resolve in event-time order;
  * probes before any ref emit null. MemoryStream-driven (static frames
  * never exercise the state path). Timer-based state queries keep
  * scheduling batches, so the sink is POLLED with a deadline rather than
  * processAllAvailable (skill gotcha). */
class AsOfStreamSpec extends SparkSuite {

  private def t(s: String) = Timestamp.valueOf(s)

  test("latest-value attach: exact within a batch, state carries across " +
      "batches, pre-ref probes get null") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[AsOfEv]
    val out = Pipeline.streamingAsOf()(in.toDF())
    val name = s"asof_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    def await(nRows: Int): Unit = {
      val deadline = System.currentTimeMillis + 60000
      while (spark.table(name).count() < nRows
          && System.currentTimeMillis < deadline) Thread.sleep(200)
    }
    try {
      // batch 1: probe BEFORE any ref (null), ref v=1.0, probe after
      // (attaches 1.0 even though the ref arrived in the same batch),
      // plus an independent key's ref
      in.addData(
        AsOfEv(7L, t("2026-01-01 10:00:00"), "probe", 100.0),
        AsOfEv(7L, t("2026-01-01 10:00:30"), "ref", 1.0),
        AsOfEv(7L, t("2026-01-01 10:01:00"), "probe", 101.0),
        AsOfEv(8L, t("2026-01-01 10:00:00"), "ref", 9.0))
      await(2)
      // batch 2: probe with NO ref this batch → still 1.0 (state),
      // newer ref v=2.0, probe after it → 2.0; key 8 probe → 9.0
      in.addData(
        AsOfEv(7L, t("2026-01-01 10:02:00"), "probe", 102.0),
        AsOfEv(7L, t("2026-01-01 10:03:00"), "ref", 2.0),
        AsOfEv(7L, t("2026-01-01 10:04:00"), "probe", 103.0),
        AsOfEv(8L, t("2026-01-01 10:05:00"), "probe", 800.0))
      await(5)
      val rows = spark.table(name)
        .orderBy("key", "ts")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString.take(19),
          r.getDouble(2),
          if (r.isNullAt(3)) null else r.getDouble(3),
          if (r.isNullAt(5)) null else r.getLong(5)))
        .toSeq
      assert(rows == Seq(
        (7L, "2026-01-01 10:00:00", 100.0, null, null),
        (7L, "2026-01-01 10:01:00", 101.0, 1.0, 30000L),
        (7L, "2026-01-01 10:02:00", 102.0, 1.0, 90000L),
        (7L, "2026-01-01 10:04:00", 103.0, 2.0, 60000L),
        (8L, "2026-01-01 10:05:00", 800.0, 9.0, 300000L)),
        rows.mkString("\n"))
    } finally q.stop()
  }

  test("equal event time: a ref at exactly the probe's ts attaches (refs " +
      "order before probes within a batch — same result as if the ref had " +
      "arrived one batch earlier)") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[AsOfEv]
    val out = Pipeline.streamingAsOf()(in.toDF())
    val name = s"asof3_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // probe listed FIRST in the batch, ref at the identical ts: the
      // at-or-before contract (q31's tie rule) attaches the ref, lag 0
      in.addData(
        AsOfEv(3L, t("2026-01-01 12:00:00"), "probe", 55.0),
        AsOfEv(3L, t("2026-01-01 12:00:00"), "ref", 4.0))
      val deadline = System.currentTimeMillis + 60000
      while (spark.table(name).count() < 1
          && System.currentTimeMillis < deadline) Thread.sleep(200)
      val got = spark.table(name).collect()
      assert(got.length == 1, s"got ${got.length} rows")
      assert(!got(0).isNullAt(3) && got(0).getDouble(3) == 4.0,
        s"equal-ts ref must attach: ${got(0)}")
      assert(got(0).getLong(5) == 0L, "lag at equal ts is 0 ms")
    } finally q.stop()
  }

  test("state is one cell per key: a flood of refs leaves a single state " +
      "row and the newest value serves the probe") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[AsOfEv]
    val out = Pipeline.streamingAsOf()(in.toDF())
    val name = s"asof2_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      in.addData((1 to 500).map(i =>
        AsOfEv(5L, t(f"2026-01-01 10:00:${i % 60}%02d"), "ref",
          i.toDouble)): _*)
      in.addData(AsOfEv(5L, t("2026-01-01 11:00:00"), "probe", 0.0))
      val deadline = System.currentTimeMillis + 60000
      while (spark.table(name).count() < 1
          && System.currentTimeMillis < deadline) Thread.sleep(200)
      val got = spark.table(name).collect()
      assert(got.length == 1, s"got ${got.length} rows")
      assert(!got(0).isNullAt(3), "probe should see a ref value")
      val p = q.lastProgress
      if (p != null && p.stateOperators.nonEmpty)
        assert(p.stateOperators(0).numRowsTotal == 1L,
          s"expected 1 state row, got ${p.stateOperators(0).numRowsTotal}")
    } finally q.stop()
  }

  test("a frame without event_id restores its state across a " +
      "checkpointed restart: the state cell written before the stop serves " +
      "probes after the restart") {
    // MemoryStream forbids checkpoint recovery, so this test drives a
    // JSON-file source and collects via foreachBatch — both restartable.
    import org.apache.spark.sql.Row
    val ckpt = tmpDir("asof_ckpt_")
    val inDir = tmpDir("asof_in_")
    val schema = "key LONG, ts TIMESTAMP, side STRING, value DOUBLE"
    def feed(name: String, lines: String*): Unit = {
      // write outside the watched dir, then ATOMIC_MOVE in: a direct
      // write races the source's directory listing (a half-written file
      // parses as a corrupt record and the row silently drops)
      val tmp = java.nio.file.Files.createTempFile("asof_feed_", ".json")
      java.nio.file.Files.write(tmp, lines.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get(inDir, name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    def start() = Pipeline.streamingAsOf()(
        spark.readStream.schema(schema).json(inDir))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(got.add)
      }.start()
    // await a PREDICATE, not a count: a stop between sink write and
    // commit makes the restart REPLAY the batch through foreachBatch
    // (at-least-once), so duplicate first-probe rows can satisfy a
    // count before the new batch was ever processed (flaked exactly so)
    def await(what: String)(pred: Row => Boolean): Unit = {
      import scala.jdk.CollectionConverters._
      val deadline = System.currentTimeMillis + 60000
      while (!got.iterator.asScala.exists(pred)
          && System.currentTimeMillis < deadline) Thread.sleep(200)
      assert(got.iterator.asScala.exists(pred),
        s"timed out waiting for $what (got ${got.size} rows)")
    }
    val q1 = start()
    try {
      feed("b1.json",
        """{"key":4,"ts":"2026-01-01 10:00:00","side":"ref","value":7.5}""",
        """{"key":4,"ts":"2026-01-01 10:00:30","side":"probe","value":1.0}""")
      await("the pre-stop probe")(_.getDouble(2) == 1.0)
    } finally q1.stop()
    // restart from the checkpoint: the ref exists only in restored state
    val q2 = start()
    try {
      feed("b2.json",
        """{"key":4,"ts":"2026-01-01 10:05:00","side":"probe","value":2.0}""")
      await("the post-restart probe")(_.getDouble(2) == 2.0)
      val post = got.toArray(Array.empty[Row])
        .filter(_.getDouble(2) == 2.0)
      assert(post.length == 1, s"post-restart probe missing (${post.length})")
      assert(!post(0).isNullAt(3) && post(0).getDouble(3) == 7.5,
        s"restored state must serve the probe: ${post(0)}")
    } finally q2.stop()
  }

  test("equal-ts ref tie resolves to the HIGHEST event_id (q31's oracle " +
      "pick) and the winner is invariant to batch boundaries and " +
      "arrival order") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val T = t("2026-01-01 10:00:00")
    // four scenarios: both refs in one batch (either input order), and
    // split across batches (either arrival order) — all must attach the
    // eid=9 ref's value to the probe. Batch boundaries are driven by a
    // MARKER probe on an independent key appended to every batch: its
    // output row is the signal the batch committed, so the next addData
    // lands in a genuinely new micro-batch (processAllAvailable hangs
    // under ProcessingTimeTimeout's timer batches — the suite gotcha).
    val scenarios = Seq(
      Seq(Seq(AsOfTieEv(1L, T, "ref", 111.0, 9L),
              AsOfTieEv(1L, T, "ref", 222.0, 3L))),
      Seq(Seq(AsOfTieEv(1L, T, "ref", 222.0, 3L),
              AsOfTieEv(1L, T, "ref", 111.0, 9L))),
      Seq(Seq(AsOfTieEv(1L, T, "ref", 111.0, 9L)),
          Seq(AsOfTieEv(1L, T, "ref", 222.0, 3L))),
      Seq(Seq(AsOfTieEv(1L, T, "ref", 222.0, 3L)),
          Seq(AsOfTieEv(1L, T, "ref", 111.0, 9L))))
    scenarios.zipWithIndex.foreach { case (batches, i) =>
      val in = MemoryStream[AsOfTieEv]
      val out = Pipeline.streamingAsOf()(in.toDF())
      val name = s"asof_tie_${i}_${System.nanoTime()}"
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      def await(nRows: Int): Unit = {
        val deadline = System.currentTimeMillis + 60000
        while (spark.table(name).count() < nRows
            && System.currentTimeMillis < deadline) Thread.sleep(100)
        assert(spark.table(name).count() >= nRows,
          s"scenario $i: timed out waiting for $nRows output rows")
      }
      try {
        var expected = 0
        batches.foreach { b =>
          val marker = AsOfTieEv(999L, t("2026-01-01 09:00:00"),
            "probe", -1.0, 0L)
          in.addData(b :+ marker: _*)
          expected += 1
          await(expected)
        }
        in.addData(AsOfTieEv(1L, t("2026-01-01 10:01:00"), "probe", 0.0, 99L))
        expected += 1
        await(expected)
        val got = spark.table(name).filter("key = 1").collect()
        assert(got.length == 1, s"scenario $i: got ${got.length} key-1 rows")
        assert(got(0).getDouble(3) == 111.0,
          s"scenario $i: highest event_id (9) must win the equal-ts tie, " +
            s"got ref_value=${got(0).getDouble(3)}")
      } finally q.stop()
    }
  }
}

/** Tie-break variant of the input row: carries the optional event_id the
  * round-8 contract threads through for equal-ts ref resolution. */
case class AsOfTieEv(key: Long, ts: Timestamp, side: String, value: Double,
    event_id: Long)
