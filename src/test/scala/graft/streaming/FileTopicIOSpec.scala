package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** The test/emulation transport's log semantics: contiguous offsets across
  * appends (now maintained by a driver-side last-offset cache instead of a
  * per-append full-topic scan), same-topic append serialization, and the
  * routed append's per-topic replay markers. */
class FileTopicIOSpec extends SparkSuite {

  /** `n` envelopes tagged `<tag>-<i>`, destined round-robin over `dests`
    * (a NULL destination is a row no topic takes), over 4 partitions. */
  private def routedFrame(tag: String, n: Int,
      dests: Seq[Option[String]]): DataFrame =
    envelopes("t", (0 until n).map(i =>
        (s"$tag-$i", "v", ts("2024-01-01 00:00:00"))))
      .withColumn(Dispatch.TopicCol, element_at(
        array(dests.map(d => lit(d.orNull).cast("string")): _*),
        (col("offset") % dests.size).cast("int") + 1))
      .repartition(4)

  private def keysOf(topics: FileTopicIO, topic: String): Seq[String] =
    topics.read(spark, topic).selectExpr("cast(key as string)")
      .collect().map(_.getString(0)).toSeq.sorted

  private def expected(tag: String, n: Int, dests: Seq[Option[String]],
      topic: String): Seq[String] =
    (0 until n).filter(i => dests(i % dests.size).contains(topic))
      .map(i => s"$tag-$i").sorted

  test("offsets stay contiguous across appends and the cache agrees with " +
      "the data on disk") {
    val topics = new FileTopicIO(tmpDir("ftio"))
    topics.append(envelopes("t", (0 until 3).map(i =>
      (s"k$i", s"v$i", ts("2024-01-01 00:00:00")))), "t")
    topics.append(envelopes("t", (0 until 4).map(i =>
      (s"k$i", s"v$i", ts("2024-01-01 00:00:01")))), "t")
    assert(topics.maxOffset(spark, "t") == 6L)
    val offsets = topics.read(spark, "t").select("offset")
      .collect().map(_.getLong(0)).sorted
    assert(offsets.toSeq == (0L to 6L))
  }

  test("a fresh instance cold-scans the topic once, then continues the " +
      "sequence (cache is an optimization, not the source of truth)") {
    val dir = tmpDir("ftio2")
    val a = new FileTopicIO(dir)
    a.append(envelopes("t", Seq(("k", "v", ts("2024-01-01 00:00:00")))), "t")
    val b = new FileTopicIO(dir)
    assert(b.maxOffset(spark, "t") == 0L)
    b.append(envelopes("t", Seq(("k2", "v2", ts("2024-01-01 00:00:01")))), "t")
    assert(b.maxOffset(spark, "t") == 1L)
    assert(b.read(spark, "t").select("offset")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L))
  }

  test("appendIdempotent survives a crash BETWEEN the move-in and the " +
      "applied marker: recovery deletes the crashed attempt's token-stamped " +
      "files and re-runs cleanly — marker-after-append alone duplicated " +
      "retries on exactly-that-window replays") {
    import java.nio.file.{Files, Paths}
    val base = tmpDir("ftio4")
    val topics = new FileTopicIO(base)
    topics.append(envelopes("t", Seq(("seed", "v", ts("2024-01-01 00:00:00")))), "t")
    val d = Paths.get(s"$base/t")
    val batch = envelopes("t", (0 until 3).map(i =>
      (s"k$i", s"v$i", ts("2024-01-01 00:00:01"))))
    topics.appendIdempotent(batch, "t", "tok1")
    assert(topics.read(spark, "t").count() == 4)
    // simulate the crash window: data files fully moved into the topic
    // dir (token-stamped), applied marker not yet created
    Files.delete(d.resolve("_applied-tok1"))
    // the REPLAY must not duplicate: recovery removes the crashed
    // attempt's stamped files, then re-appends once
    topics.appendIdempotent(batch, "t", "tok1")
    assert(topics.read(spark, "t").count() == 4,
      "replay after the simulated crash must not duplicate the batch")
    assert(Files.exists(d.resolve("_applied-tok1")))
    // and a plain replay with the applied marker present stays a no-op
    topics.appendIdempotent(batch, "t", "tok1")
    assert(topics.read(spark, "t").count() == 4)
  }

  test("a replay does NOT delete records another writer committed to the " +
      "same topic between the crash and the replay — recovery is scoped " +
      "to the crashed token's own files (the whole-topic snapshot diff " +
      "this replaces destroyed exactly those interleaved records)") {
    import java.nio.file.{Files, Paths}
    val base = tmpDir("ftio5")
    val topics = new FileTopicIO(base)
    val d = Paths.get(s"$base/t")
    val batch = envelopes("t", (0 until 3).map(i =>
      (s"k$i", s"v$i", ts("2024-01-01 00:00:01"))))
    topics.appendIdempotent(batch, "t", "tokA")
    // crash window for tokA: files in, marker missing
    Files.delete(d.resolve("_applied-tokA"))
    // ANOTHER writer (plain append = dispatch emit; different-token
    // idempotent append = dead-set replay) commits in between
    topics.append(envelopes("t", Seq(("other", "w", ts("2024-01-01 00:00:02")))), "t")
    topics.appendIdempotent(envelopes("t", Seq(("other2", "w2",
      ts("2024-01-01 00:00:03")))), "t", "tokB")
    // tokA's replay: must keep both interleaved writers' records and
    // land its own batch exactly once
    topics.appendIdempotent(batch, "t", "tokA")
    val keys = topics.read(spark, "t").selectExpr("cast(key as string)")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(keys == Seq("k0", "k1", "k2", "other", "other2"),
      s"interleaved writers' records must survive tokA's replay; got $keys")
    // offsets stay unique and monotone (a reclaimed crashed attempt may
    // leave a gap — that is fine; duplicates are not)
    val offsets = topics.read(spark, "t").select("offset")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(offsets.distinct == offsets)
    assert(topics.maxOffset(spark, "t") == offsets.last)
  }

  test("a stale pre-rework _intent file is swept, not honored: its " +
      "whole-topic snapshot semantics are the superseded loss path") {
    import java.nio.file.{Files, Paths}
    val base = tmpDir("ftio6")
    val topics = new FileTopicIO(base)
    topics.append(envelopes("t", Seq(("seed", "v", ts("2024-01-01 00:00:00")))), "t")
    val d = Paths.get(s"$base/t")
    // a pre-rework crashed attempt left an intent snapshotting an EMPTY
    // topic; honoring it would delete the seed record on replay
    Files.write(d.resolve("_intent-tokOld"), "".getBytes)
    topics.appendIdempotent(envelopes("t", Seq(("new", "w",
      ts("2024-01-01 00:00:01")))), "t", "tokOld")
    assert(!Files.exists(d.resolve("_intent-tokOld")))
    val keys = topics.read(spark, "t").selectExpr("cast(key as string)")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(keys == Seq("new", "seed"))
  }

  test("concurrent appends to the same topic serialize: offsets are unique " +
      "and contiguous") {
    val topics = new FileTopicIO(tmpDir("ftio3"))
    import java.util.concurrent.{Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(4)
    (0 until 4).foreach { t =>
      pool.submit(new Runnable {
        def run(): Unit =
          topics.append(envelopes("t", (0 until 5).map(i =>
            (s"k$t-$i", "v", ts("2024-01-01 00:00:00")))), "t")
      })
    }
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    val offsets = topics.read(spark, "t").select("offset")
      .collect().map(_.getLong(0)).sorted
    assert(offsets.toSeq == (0L until 20L))
    assert(topics.maxOffset(spark, "t") == 19L)
  }

  test("routed appends keep each topic's offsets contiguous and monotone, " +
      "interleaved with single-topic appends; rows for other topics or " +
      "none are not written") {
    val topics = new FileTopicIO(tmpDir("routed-offsets"))
    val dests = Seq(Some("a"), Some("b"), None, Some("a"), Some("z"))
    topics.append(envelopes("t", Seq(("seed", "v", ts("2024-01-01 00:00:00")))), "a")
    topics.appendRouted(routedFrame("r1", 23, dests), Dispatch.TopicCol,
      Seq("a", "b"), Some("tok1"))
    topics.appendIdempotent(envelopes("t", Seq(("mid", "v",
      ts("2024-01-01 00:00:01")))), "b", "tok2")
    topics.appendRouted(routedFrame("r2", 17, dests), Dispatch.TopicCol,
      Seq("b", "a"), None)
    for (t <- Seq("a", "b")) {
      val rows = topics.read(spark, t)
        .selectExpr("cast(key as string)", "offset").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toSeq
      val offsets = rows.map(_._2).sorted
      assert(offsets == offsets.indices.map(_.toLong), s"$t: $offsets")
      assert(topics.maxOffset(spark, t) == offsets.last)
      // each append's range lies wholly after the previous append's
      val ranges = Seq("seed", "r1-", "mid", "r2-").map(p =>
        rows.filter(_._1.startsWith(p)).map(_._2)).filter(_.nonEmpty)
      ranges.zip(ranges.tail).foreach { case (x, y) =>
        assert(x.max < y.min, s"$t: $ranges")
      }
    }
    assert(keysOf(topics, "a") == (Seq("seed") ++
      expected("r1", 23, dests, "a") ++ expected("r2", 17, dests, "a")).sorted)
    assert(keysOf(topics, "b") == (Seq("mid") ++
      expected("r1", 23, dests, "b") ++ expected("r2", 17, dests, "b")).sorted)
    assert(keysOf(topics, "z").isEmpty)
  }

  test("a replay after a crash BETWEEN two topics' moves lands every row " +
      "exactly once: applied topics are skipped, the rest are re-staged, " +
      "and another writer's records in between survive") {
    val base = tmpDir("routed-crash")
    val dests = Seq(Some("a"), Some("b"), Some("c"))
    val df = routedFrame("r", 12, dests).cache()
    val crashing = new FileTopicIO(base)
    crashing.beforeMove = t =>
      if (t == "b") throw new IllegalStateException("injected crash")
    intercept[IllegalStateException] {
      crashing.appendRouted(df, Dispatch.TopicCol, Seq("a", "b", "c"),
        Some("route-x-3"))
    }
    assert(Files.exists(Paths.get(base, "a", "_applied-route-x-3")))
    assert(!Files.exists(Paths.get(base, "b", "_applied-route-x-3")))
    // the restarted engine: a fresh transport; another writer commits to
    // a not-yet-applied topic before the replay
    val topics = new FileTopicIO(base)
    topics.append(envelopes("t", Seq(("other", "w", ts("2024-01-01 00:00:02")))), "c")
    topics.appendRouted(df, Dispatch.TopicCol, Seq("a", "b", "c"),
      Some("route-x-3"))
    // and a second replay is a no-op
    topics.appendRouted(df, Dispatch.TopicCol, Seq("a", "b", "c"),
      Some("route-x-3"))
    for (t <- Seq("a", "b", "c")) {
      val extra = if (t == "c") Seq("other") else Nil
      assert(keysOf(topics, t) == (expected("r", 12, dests, t) ++ extra).sorted, t)
      assert(Files.exists(Paths.get(base, t, "_applied-route-x-3")), t)
      val offsets = topics.read(spark, t).select("offset").collect()
        .map(_.getLong(0)).toSeq.sorted
      assert(offsets.distinct == offsets, s"$t: $offsets")
    }
    // no staging dir is left behind in any topic
    for (t <- Seq("a", "b", "c"))
      assert(!Files.exists(Paths.get(base, t, "_staging-route-x-3")), t)
    df.unpersist()
  }

  test("a replay whose markers the per-topic appendIdempotent wrote is a " +
      "no-op: the routed append honors the same `_applied-<token>` files") {
    val base = tmpDir("routed-old")
    val topics = new FileTopicIO(base)
    val dests = Seq(Some("a"), Some("b"))
    val df = routedFrame("r", 8, dests).cache()
    // the per-sink emit: one idempotent append per topic, same token
    for (t <- Seq("a", "b"))
      topics.appendIdempotent(df.filter(col(Dispatch.TopicCol) === t)
        .drop(Dispatch.TopicCol), t, "route-y-9")
    // a topic whose marker an older build left by hand-written name
    topics.append(envelopes("t", Seq(("old", "v", ts("2024-01-01 00:00:00")))), "c")
    Files.createFile(Paths.get(base, "c", "_applied-route-y-9"))
    def snapshot = Seq("a", "b", "c").map(t => topics.read(spark, t)
      .selectExpr("cast(key as string)", "offset").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq.sorted)
    val before = snapshot
    val fresh = new FileTopicIO(base)
    fresh.appendRouted(df, Dispatch.TopicCol, Seq("a", "b", "c"),
      Some("route-y-9"))
    assert(snapshot == before)
    assert(before.map(_.size) == Seq(4, 4, 1))
    df.unpersist()
  }
}
