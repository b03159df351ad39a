package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** UpsertSink: streaming micro-batches merge into a latest-per-key view,
  * replays are skipped (exactly-once view from at-least-once foreachBatch),
  * and the pointer flip keeps readers on a complete version. */
class UpsertSinkSpec extends SparkSuite {

  private def df(rows: Seq[(Long, String, Long)]) = {
    val sess = spark
    import sess.implicits._
    rows.toDF("k", "v", "ord")
  }

  test("batches merge to latest-per-key; last write wins at equal order") {
    val sink = new UpsertSink(spark, tmpDir("upsert1"), "k", "ord")
    assert(sink.apply(df(Seq((1L, "a", 10L), (1L, "b", 20L), (2L, "x", 5L))), 0L))
    val s0 = sink.current().get.orderBy("k").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSeq
    assert(s0 == Seq((1L, "b"), (2L, "x")))
    // batch 1: update k=1 with LOWER ord (loses), k=2 EQUAL ord (batch wins),
    // k=3 new
    assert(sink.apply(df(Seq((1L, "stale", 15L), (2L, "y", 5L), (3L, "n", 1L))), 1L))
    val s1 = sink.current().get.orderBy("k").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSeq
    assert(s1 == Seq((1L, "b"), (2L, "y"), (3L, "n")))
  }

  test("replayed batchId is skipped — the view is exactly-once") {
    val sink = new UpsertSink(spark, tmpDir("upsert2"), "k", "ord")
    assert(sink.apply(df(Seq((1L, "a", 1L))), 0L))
    assert(!sink.apply(df(Seq((1L, "DOUBLE-APPLIED", 99L))), 0L))
    assert(sink.lastBatchId.contains(0L))
    val got = sink.current().get.collect().map(_.getString(1)).toSeq
    assert(got == Seq("a"))
  }

  test("a damaged CURRENT pointer fails loudly, naming the pointer: " +
      "read as no state, the next apply would commit a version 0 holding " +
      "only its own batch and drop the view and every replay mark") {
    val base = tmpDir("upsertdamaged")
    val sink = new UpsertSink(spark, base, "k", "ord")
    assert(sink.apply(df(Seq((1L, "a", 1L))), 0L))
    val ptr = java.nio.file.Paths.get(base, "CURRENT")
    // the checksum sidecar would fail the read first; this case is
    // about the content
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(base, ".CURRENT.crc"))
    for (junk <- Seq("", "garbage", "v0,default,0", "x,default,0",
        "0,default")) {
      java.nio.file.Files.write(ptr, junk.getBytes("UTF-8"))
      val e = intercept[IllegalStateException](
        sink.apply(df(Seq((2L, "b", 1L))), 1L))
      assert(e.getMessage.contains("CURRENT"), e.getMessage)
      intercept[IllegalStateException](sink.current())
    }
    // nothing was committed over the damage
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(base, "manifest", "1")))
  }

  test("a different queryId over the same view is NOT a replay: its " +
      "batch 0 merges instead of being dropped (checkpoint-reset safety)") {
    val base = tmpDir("upsert5")
    val q1 = new UpsertSink(spark, base, "k", "ord", queryId = "q1")
    assert(q1.apply(df(Seq((1L, "from-q1", 5L))), 7L))
    // a new query (fresh checkpoint) starts numbering at 0 again
    val q2 = new UpsertSink(spark, base, "k", "ord", queryId = "q2")
    assert(q2.apply(df(Seq((2L, "from-q2", 1L))), 0L),
      "new query's batch 0 must not be treated as a replay of q1's 7")
    val got = q2.current().get.orderBy("k").collect()
      .map(_.getString(1)).toSeq
    assert(got == Seq("from-q1", "from-q2"))
    // but q2's OWN replay of batch 0 is still skipped
    assert(!q2.apply(df(Seq((9L, "dup", 1L))), 0L))
  }

  test("asOf time travel: each committed version remains readable and " +
      "reflects exactly the batches applied up to it") {
    val sink = new UpsertSink(spark, tmpDir("upsert4"), "k", "ord")
    assert(sink.apply(df(Seq((1L, "v0", 1L))), 0L))
    assert(sink.apply(df(Seq((1L, "v1", 2L), (2L, "w", 1L))), 1L))
    val at0 = sink.asOf(0L).get.collect().map(_.getString(1)).toSeq
    assert(at0 == Seq("v0"))
    val at1 = sink.asOf(1L).get.orderBy("k").collect()
      .map(_.getString(1)).toSeq
    assert(at1 == Seq("v1", "w"))
    assert(sink.asOf(7L).isEmpty)
  }

  test("property: sequential batch merges equal one-shot latest-per-key " +
      "over the concatenated input (seeded random batch splits)") {
    val rnd = new scala.util.Random(42)
    (1 to 5).foreach { trial =>
      // random rows: keys 1..6, distinct ord per row so the winner is
      // unambiguous regardless of batch boundaries
      val rows = rnd.shuffle((1 to 30).toList).map { i =>
        (1L + rnd.nextInt(6), s"v$i-t$trial", i.toLong)
      }
      val nBatches = 1 + rnd.nextInt(4)
      val batches = rows.grouped(math.max(1, rows.size / nBatches)).toSeq
      val sink = new UpsertSink(spark, tmpDir(s"upsertp$trial"), "k", "ord")
      batches.zipWithIndex.foreach { case (b, id) =>
        assert(sink.apply(df(b), id.toLong))
      }
      val got = sink.current().get.orderBy("k").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      val want = rows.groupBy(_._1).view.mapValues(_.maxBy(_._3)._2)
        .toSeq.map { case (k, v) => (k, v) }.sortBy(_._1)
      assert(got == want, s"trial $trial: got $got want $want")
    }
  }

  /** Which of the sink's hash buckets key `k` lands in. */
  private def bucketOf(k: Long, b: Int): Int =
    df(Seq((k, "probe", 1L)))
      .select(pmod(hash(col("k")), lit(b))).head.getInt(0)

  test("partition-pruned merge: a batch rewrites only the buckets its keys " +
      "land in; untouched buckets are carried forward BY REFERENCE with " +
      "byte-identical files") {
    val b = 8
    val base = tmpDir("upsert6")
    val sink = new UpsertSink(spark, base, "k", "ord", buckets = b)
    // seed state across many buckets
    assert(sink.apply(df((1L to 50L).map(k => (k, s"v$k", 1L))), 0L))
    val dirs0 = sink.currentBucketDirs()
    assert(dirs0.size > 1, s"seed should span several buckets, got $dirs0")
    // snapshot the physical files of every bucket (path, length, mtime)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(s"file:$base"), spark.sessionState.newHadoopConf())
    def filesOf(rel: String) =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/$rel"))
        .map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
        .sortBy(_._1).toSeq
    val snap0 = dirs0.map { case (bk, rel) => bk -> filesOf(rel) }
    // second batch touches a single key → a single bucket
    val hitKey = 7L
    val hitBucket = bucketOf(hitKey, b)
    assert(sink.apply(df(Seq((hitKey, "updated", 2L))), 1L))
    val dirs1 = sink.currentBucketDirs()
    assert(dirs1(hitBucket) != dirs0(hitBucket),
      "the hit bucket must point at a freshly written dir")
    dirs0.keys.filterNot(_ == hitBucket).foreach { bk =>
      assert(dirs1(bk) == dirs0(bk),
        s"untouched bucket $bk must keep the SAME path (carried by reference)")
      assert(filesOf(dirs1(bk)) == snap0(bk),
        s"untouched bucket $bk files must be byte-identical across the commit")
    }
    // and the view still equals the full-compaction result row-for-row
    val got = sink.current().get.orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = (1L to 50L).map(k =>
      (k, if (k == hitKey) "updated" else s"v$k"))
    assert(got == want)
  }

  test("asOf is (queryId, batchId)-keyed: two queries that both commit a " +
      "batch 0 retain separate histories (no version-dir collision)") {
    val base = tmpDir("upsert7")
    val q1 = new UpsertSink(spark, base, "k", "ord", queryId = "q1")
    assert(q1.apply(df(Seq((1L, "q1-b7", 5L))), 7L))
    val q2 = new UpsertSink(spark, base, "k", "ord", queryId = "q2")
    // the CURRENT pointer targets q1's batch-7 version; q2's batch 0 must
    // neither fail ("overwrite a path being read") nor clobber q1's history
    assert(q2.apply(df(Seq((2L, "q2-b0", 1L))), 0L))
    assert(q1.asOf(7L).get.collect().map(_.getString(1)).toSeq == Seq("q1-b7"))
    assert(q2.asOf(0L).get.orderBy("k").collect()
      .map(_.getString(1)).toSeq == Seq("q1-b7", "q2-b0"))
    assert(q1.asOf(0L).isEmpty, "q1 never committed a batch 0")
    assert(q2.asOf(7L).isEmpty, "q2 never committed a batch 7")
  }

  test("vacuum(keepLast) drops old versions but keeps every bucket a " +
      "retained manifest still references; current() and retained asOf " +
      "are unaffected") {
    val b = 8
    val base = tmpDir("upsert8")
    val sink = new UpsertSink(spark, base, "k", "ord", buckets = b)
    assert(sink.apply(df((1L to 50L).map(k => (k, s"v$k", 1L))), 0L))
    assert(sink.apply(df(Seq((7L, "u7", 2L))), 1L))
    assert(sink.apply(df(Seq((9L, "u9", 3L))), 2L))
    // version 2's manifest still references bucket dirs written at v0
    val carried = sink.currentBucketDirs().values.filter(_.contains("data/0"))
    assert(carried.nonEmpty, "expected v2 to carry v0 buckets forward")
    sink.vacuum(keepLast = 2)
    assert(sink.asOf(0L).isEmpty, "dropped version's asOf must be gone")
    assert(sink.asOf(1L).isDefined && sink.asOf(2L).isDefined)
    val got = sink.current().get.orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = (1L to 50L).map(k => (k,
      if (k == 7L) "u7" else if (k == 9L) "u9" else s"v$k"))
    assert(got == want, "current view must survive vacuum")
    // carried-forward v0 bucket dirs must still exist on disk
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(s"file:$base"), spark.sessionState.newHadoopConf())
    carried.foreach { rel =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$base/$rel")),
        s"referenced bucket $rel must survive vacuum")
    }
    // aggressive vacuum: only the current version's history remains
    sink.vacuum(keepLast = 1)
    assert(sink.asOf(1L).isEmpty && sink.asOf(2L).isDefined)
    assert(sink.current().get.count() == 50)
  }

  test("vacuum defers unreferenced bucket dirs a FRESH read lease names " +
      "— current()/asOf drop a lease file listing the dirs they hand " +
      "out (file mtimes are real on every store; directory setTimes is " +
      "a silent no-op on object stores), so a recent reader's lazy " +
      "frame keeps its files through a concurrent reclaim — and " +
      "reclaims them once the lease ages; stale leases are swept") {
    val base = tmpDir("upsert13")
    val sink = new UpsertSink(spark, base, "k", "ord", buckets = 4)
    assert(sink.apply(df(Seq((1L, "a", 1L), (2L, "b", 1L),
      (3L, "c", 1L))), 0L))
    val v0dirs = sink.currentBucketDirs().values.toSeq
    val held = sink.current().get // the long-lived reader's lazy frame
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(s"file:$base"), spark.sessionState.newHadoopConf())
    val ldir = new org.apache.hadoop.fs.Path(s"$base/_reading")
    def leases() =
      if (!fs.exists(ldir)) Seq.empty
      else fs.listStatus(ldir).toSeq.map(_.getPath)
    assert(leases().nonEmpty, "current() must drop a read lease")
    // the memo: a second read inside the half-window writes NO new
    // lease (a per-micro-batch serving loop must not flood the dir)
    val before = leases().size
    sink.current().get
    assert(leases().size == before,
      "a re-read within the half-window must reuse the lease")
    // rewriting the SAME keys touches the same buckets: v1 references
    // only its own dirs and v0's become pure history
    assert(sink.apply(df(Seq((1L, "a2", 2L), (2L, "b2", 2L),
      (3L, "c2", 2L))), 1L))
    val referenced = sink.currentBucketDirs().values.toSet
    val dead = v0dirs.filterNot(referenced)
    assert(dead.nonEmpty, "expected v0 buckets to fall out of reference")
    // real-clock vacuum: the manifest drops (asOf gone) but the dirs
    // are named by the reader's fresh lease — deferred
    sink.vacuum(keepLast = 1)
    assert(sink.asOf(0L).isEmpty, "dropped version's asOf must be gone")
    dead.foreach { rel =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$base/$rel")),
        s"freshly-leased bucket $rel must survive the vacuum")
    }
    assert(held.orderBy("k").collect().map(_.getString(1)).toSeq
      == Seq("a", "b", "c"),
      "the held frame must stay readable through the vacuum")
    // aged past the window: the lease is stale — swept as housekeeping
    // — and the deferred dirs reclaim even though THIS vacuum has no
    // manifest left to drop
    val stale = System.currentTimeMillis() +
      UpsertSink.ReaderWindowMillis + 60000L
    sink.vacuum(keepLast = 1, now = stale)
    dead.foreach { rel =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/$rel")),
        s"aged unreferenced bucket $rel must be reclaimed")
    }
    assert(leases().isEmpty, "stale lease files must be swept")
    assert(sink.current().get.orderBy("k").collect()
      .map(_.getString(1)).toSeq == Seq("a2", "b2", "c2"))
  }

  test("vacuum fail-safes on an unreadable FRESH lease (whole sweep " +
      "deferred — reclaiming under it could kill an active reader), " +
      "reclaims a crashed write's aged _temporary by file-tree age " +
      "(unblocking the version-dir cleanup), and never touches a live " +
      "job's scratch") {
    val base = tmpDir("upsert14")
    val sink = new UpsertSink(spark, base, "k", "ord", buckets = 4)
    assert(sink.apply(df(Seq((1L, "a", 1L))), 0L))
    val v0dirs = sink.currentBucketDirs().values.toSeq
    assert(sink.apply(df(Seq((1L, "a2", 2L))), 1L))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(s"file:$base"), spark.sessionState.newHadoopConf())
    val dead = v0dirs.filterNot(sink.currentBucketDirs().values.toSet)
    assert(dead.nonEmpty, "expected v0 buckets to fall out of reference")
    val stale = System.currentTimeMillis() +
      UpsertSink.ReaderWindowMillis + 60000L
    def hp(s: String) = new org.apache.hadoop.fs.Path(s)
    // crash residue: an aged _temporary under the dropped version and
    // a LIVE job's scratch under the current one (file mtime pinned
    // fresh — file mtimes are real on every store)
    val tOld = hp(s"$base/data/0/_temporary")
    fs.mkdirs(tOld)
    val o1 = fs.create(hp(s"$tOld/part-000"), true)
    o1.write("x".getBytes); o1.close()
    val tLive = hp(s"$base/data/1/_temporary")
    fs.mkdirs(tLive)
    val o2 = fs.create(hp(s"$tLive/part-000"), true)
    o2.write("y".getBytes); o2.close()
    fs.setTimes(hp(s"$tLive/part-000"), stale, -1)
    // an unreadable FRESH lease: a directory at a lease path makes
    // open() throw while its mtime reads fresh
    val torn = hp(s"$base/_reading/torn")
    fs.mkdirs(torn)
    fs.setTimes(torn, stale, -1)
    sink.vacuum(1, now = stale)
    dead.foreach(rel => assert(fs.exists(hp(s"$base/$rel")),
      "the sweep must be DEFERRED while a fresh lease is unreadable"))
    assert(fs.exists(tOld), "deferral covers job-scratch too")
    // lease cleared → the sweep runs: dead buckets + aged scratch go,
    // the live job's scratch survives
    fs.delete(torn, true)
    sink.vacuum(1, now = stale)
    dead.foreach(rel => assert(!fs.exists(hp(s"$base/$rel")),
      s"aged unreferenced bucket $rel must be reclaimed"))
    assert(!fs.exists(tOld), "aged crash residue must reclaim")
    assert(fs.exists(tLive), "a live job's scratch must survive")
    assert(!fs.exists(hp(s"$base/data/0")),
      "reclaiming the aged _temporary unblocks the version-dir cleanup")
    assert(sink.current().get.collect().map(_.getString(1)).toSeq
      == Seq("a2"))
  }

  test("multi-writer replay guard: q1's replayed batch arriving AFTER q2's " +
      "commit is still skipped (per-query high-water marks in the pointer)") {
    val base = tmpDir("upsert11")
    val q1 = new UpsertSink(spark, base, "k", "ord", queryId = "q1")
    assert(q1.apply(df(Seq((1L, "X", 10L))), 5L))
    val q2 = new UpsertSink(spark, base, "k", "ord", queryId = "q2")
    assert(q2.apply(df(Seq((1L, "Y", 10L))), 0L)) // beats X at equal ord
    assert(q2.current().get.collect().map(_.getString(1)).toSeq == Seq("Y"))
    // q1's checkpoint replays batch 5: with only the last writer recorded
    // this would re-merge and revert k=1 to X; the marks map must skip it
    assert(!q1.apply(df(Seq((1L, "X", 10L))), 5L),
      "q1's replay after q2's commit must be recognized")
    assert(q1.current().get.collect().map(_.getString(1)).toSeq == Seq("Y"),
      "the replay must not revert the newer write")
    assert(q1.lastBatchId.contains(5L) && q2.lastBatchId.contains(0L))
  }

  test("vacuum with an orphaned half-commit above the pointer keeps the " +
      "LIVE version and sweeps the orphan as garbage") {
    val base = tmpDir("upsert12")
    val sink = new UpsertSink(spark, base, "k", "ord")
    assert(sink.apply(df(Seq((1L, "a", 1L))), 0L))
    assert(sink.apply(df(Seq((2L, "b", 1L))), 1L))
    // orphan manifest for a version ABOVE the pointer (crash before flip)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(s"file:$base"), spark.sessionState.newHadoopConf())
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$base/manifest/5"), true)
    out.write("crashq,9,16\n0\tdata/5/__bucket=0".getBytes("UTF-8"))
    out.close()
    // counting the orphan against keepLast would drop the live version
    sink.vacuum(keepLast = 1)
    assert(sink.current().isDefined, "live version must survive vacuum")
    assert(sink.current().get.orderBy("k").collect()
      .map(_.getString(1)).toSeq == Seq("a", "b"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/manifest/5")),
      "the orphan manifest must be swept")
    assert(sink.asOf(1L).isDefined && sink.asOf(0L).isEmpty)
  }

  test("crash safety: a half-committed version (data + manifest written, " +
      "pointer never flipped) is invisible to readers and is cleanly " +
      "overwritten by the next commit") {
    val base = tmpDir("upsert10")
    val sink = new UpsertSink(spark, base, "k", "ord")
    assert(sink.apply(df(Seq((1L, "a", 1L))), 0L))
    // simulate a writer that died between the version write and the
    // pointer flip: orphan manifest + data for the NEXT version number
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(s"file:$base"), spark.sessionState.newHadoopConf())
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$base/manifest/1"), true)
    out.write("crashq,9,16\n0\tdata/1/__bucket=0".getBytes("UTF-8"))
    out.close()
    // readers still resolve through the pointer: version 0 only
    assert(sink.current().get.collect().map(_.getString(1)).toSeq == Seq("a"))
    assert(sink.lastBatchId.contains(0L))
    // the next commit re-derives version 1 from the pointer and overwrites
    // the orphan wholesale — no collision, no stale buckets
    assert(sink.apply(df(Seq((2L, "b", 1L))), 1L))
    assert(sink.current().get.orderBy("k").collect()
      .map(_.getString(1)).toSeq == Seq("a", "b"))
    assert(sink.asOf(9L, forQuery = "crashq").isEmpty,
      "the orphaned half-commit must not survive as history")
  }

  test("streaming upsert end-to-end: a dimension stream (base load, then " +
      "q46's change batch) leaves the view equal to the q46 batch SCD-2 " +
      "merge's current rows — streaming sink ≡ oracle-checked batch twin") {
    import graft.Tables
    val base = tmpDir("upsert9")
    val src = tmpDir("upsert9src")
    val cust = Tables(spark, sf0001).customer
    // micro-batch 0: the standing dimension; micro-batch 1: q46's change
    // batch (same expressions as Relational.q46) — ord makes last-write-win
    // deterministic regardless of file-source batch order
    cust.select(col("c_custkey").as("k"),
        col("c_mktsegment").as("segment"), lit(0L).as("ord"))
      .coalesce(1).write.parquet(s"$src/f0")
    cust.filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey").as("k"),
        concat(lit("SEG_"), (col("c_custkey") % 3).cast("string")).as("segment"))
      .unionByName(cust.filter(col("c_custkey") % 997 === 0)
        .select((col("c_custkey") + 1000000L).as("k"),
          lit("SEG_NEW").as("segment")))
      .withColumn("ord", lit(1L))
      .coalesce(1).write.parquet(s"$src/f1")
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("segment", StringType), StructField("ord", LongType)))
    val sink = new UpsertSink(spark, base, "k", "ord")
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$src/*")
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        sink.apply(b, id): Unit
      }.start()
    try q.awaitTermination() finally q.stop()
    val got = sink.current().get.select("k", "segment").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val want = graft.SparkEntry.queries("q46_scd2_upsert")(spark, sf0001)
      .select(col("c_custkey"), col("segment")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == want,
      s"streaming view diverged from the batch merge: only-view=" +
        s"${got.diff(want).take(3)} only-batch=${want.diff(got).take(3)}")
  }

  test("drives from a real streaming query: final view is latest per key") {
    val base = tmpDir("upsert3")
    val src = tmpDir("upsert3src")
    // two files → with maxFilesPerTrigger=1, two micro-batches
    df(Seq((1L, "b0-k1", 1L), (2L, "b0-k2", 1L)))
      .coalesce(1).write.parquet(s"$src/f0")
    df(Seq((1L, "b1-k1", 2L), (3L, "b1-k3", 1L)))
      .coalesce(1).write.parquet(s"$src/f1")
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", StringType), StructField("ord", LongType)))
    val sink = new UpsertSink(spark, base, "k", "ord")
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$src/*")
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        sink.apply(b, id): Unit
      }.start()
    try q.awaitTermination() finally q.stop()
    val fin = sink.current().get.orderBy("k").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSeq
    assert(fin.map(_._1) == Seq(1L, 2L, 3L))
    assert(fin.find(_._1 == 1L).get._2 == "b1-k1")
  }
}
