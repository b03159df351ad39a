package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** The persistent ANN index store's commit discipline: versioned dirs,
  * manifest-last, atomic pointer flip, orphan-tolerant loads, vacuum.
  * End-to-end parity of the loaded index with the from-scratch
  * derivation is certified by s18's oracle (s03Sql verbatim) in the
  * CORRECTNESS gate; this spec pins the store mechanics that gate can't
  * see (crash windows never produce a loadable half-index). */
class AnnIndexSpec extends SparkSuite {

  private def fixture(n: Int, shift: Double = 0.0): (DataFrame, DataFrame) = {
    val sess = spark
    import sess.implicits._
    val cents = (1 to 4).map(i =>
      (i.toLong, Seq(i.toDouble + shift, 1.0), 1.0)).toDF("cent_id", "cv", "cn")
    val posts = (1 to n).map(i =>
      (i.toLong + 100, Seq(i.toDouble, 2.0), 2.0, (i % 4 + 1).toLong))
      .toDF("vec_id", "vd", "nrm", "cell")
    (cents, posts)
  }

  test("publish -> load round-trips both frames exactly, restores the " +
      "partition column's type, and records the version in the handle") {
    val dir = tmpDir("annidx")
    val (cents, posts) = fixture(20)
    val v = AnnIndex.publish(cents, posts, dir, k = 4)
    assert(v == "v1")
    val idx = AnnIndex.load(spark, dir)
    assert(idx.version == "v1" && idx.k == 4)
    assert(idx.postings.schema("cell").dataType ==
      org.apache.spark.sql.types.LongType,
      "partition-column inference must not narrow cell ids")
    def rows(df: DataFrame, cols: String*) =
      df.select(cols.map(col): _*).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(rows(idx.centroids, "cent_id", "cv", "cn")
      == rows(cents, "cent_id", "cv", "cn"))
    assert(rows(idx.postings, "vec_id", "vd", "nrm", "cell")
      == rows(posts, "vec_id", "vd", "nrm", "cell"))
  }

  test("a second publish commits v2 and the pointer flips atomically; " +
      "the old version stays on disk until vacuum") {
    val dir = tmpDir("annidx2")
    val (c1, p1) = fixture(8)
    AnnIndex.publish(c1, p1, dir, k = 4)
    val (c2, p2) = fixture(12, shift = 0.5)
    assert(AnnIndex.publish(c2, p2, dir, k = 4) == "v2")
    assert(AnnIndex.currentVersion(dir).contains("v2"))
    val idx = AnnIndex.load(spark, dir)
    assert(idx.version == "v2" && idx.postings.count() == 12)
    assert(Files.exists(Paths.get(dir, "v1")), "history kept until vacuum")
    // vacuum keep=0: only the current version survives (stale clock —
    // fresh non-kept dirs are age-gated as possible in-flight builds)
    AnnIndex.vacuum(dir, keep = 0, now = staleClock)
    assert(!Files.exists(Paths.get(dir, "v1")))
    assert(Files.exists(Paths.get(dir, "v2")))
    assert(AnnIndex.load(spark, dir).postings.count() == 12)
  }

  test("a crashed build (version dir without manifest, pointer not " +
      "flipped) is invisible to readers, never re-entered by the next " +
      "publish, and reclaimed by vacuum") {
    val dir = tmpDir("annidx3")
    val (c1, p1) = fixture(8)
    AnnIndex.publish(c1, p1, dir, k = 4)
    // simulate: a publish of v2 died after writing data, before the
    // manifest and pointer flip
    Files.createDirectories(Paths.get(dir, "v2", "postings"))
    assert(AnnIndex.currentVersion(dir).contains("v1"),
      "pointer must still name the committed version")
    assert(AnnIndex.load(spark, dir).version == "v1")
    // the next successful publish must mint v3, not write into the orphan
    val (c2, p2) = fixture(10)
    assert(AnnIndex.publish(c2, p2, dir, k = 4) == "v3")
    assert(AnnIndex.load(spark, dir).version == "v3")
    // vacuum reclaims the orphan once STALE (it is NEWER-numbered dirs
    // above the pointer that are orphans; v2 here is below v3 and
    // outside keep) — drive the clock past the age gate
    AnnIndex.vacuum(dir, keep = 0, now = staleClock)
    assert(!Files.exists(Paths.get(dir, "v2")))
  }

  /** A `now` far enough ahead that every just-written file is older
    * than the orphan age gate. */
  private def staleClock: Long =
    System.currentTimeMillis() + AnnIndex.OrphanMinAgeMillis + 60000L

  test("vacuum keeps the most recent COMMITTED predecessors under " +
      "gapped numbering: an orphan between two committed versions is " +
      "reclaimed, not counted against the keep window") {
    val dir = tmpDir("annidx6")
    val (c, p) = fixture(8)
    AnnIndex.publish(c, p, dir, k = 4) // v1 committed
    AnnIndex.publish(c, p, dir, k = 4) // v2 committed
    // crashed build of v3: data, no manifest, pointer still v2
    Files.createDirectories(Paths.get(dir, "v3", "postings"))
    assert(AnnIndex.publish(c, p, dir, k = 4) == "v4") // committed, current
    AnnIndex.vacuum(dir, keep = 1, now = staleClock)
    assert(Files.exists(Paths.get(dir, "v4")), "current always kept")
    assert(Files.exists(Paths.get(dir, "v2")),
      "the most recent committed predecessor is the rollback target — " +
        "it must not be evicted by an orphan's version NUMBER")
    assert(!Files.exists(Paths.get(dir, "v3")),
      "the unreadable orphan is pure debris")
    assert(!Files.exists(Paths.get(dir, "v1")), "outside the keep window")
    assert(AnnIndex.load(spark, dir).version == "v4")
  }

  test("vacuum's age gate reads the NEWEST mtime anywhere in the tree: " +
      "a version dir whose nested part file was written recently is " +
      "fresh even when the dir itself is old") {
    val root = Paths.get(tmpDir("annidx-fresh"), "v3")
    val part = Files.writeString(Files.createDirectories(
      root.resolve("postings").resolve("cell=1")).resolve("part-1.parquet"),
      "y")
    val now = System.currentTimeMillis()
    val cutoff = now - AnnIndex.OrphanMinAgeMillis
    val old = java.nio.file.attribute.FileTime.fromMillis(cutoff - 60000L)
    Seq(part, part.getParent, root.resolve("postings"), root)
      .foreach(Files.setLastModifiedTime(_, old))
    assert(!AnnIndex.anyMtimeAfter(root, cutoff), "a fully aged tree is stale")
    Files.setLastModifiedTime(part,
      java.nio.file.attribute.FileTime.fromMillis(now - 1000L))
    assert(AnnIndex.anyMtimeAfter(root, cutoff),
      "a fresh nested write must read as fresh whatever the version " +
        "dir's own mtime says")
    assert(AnnIndex.anyMtimeAfter(root.resolve("gone"), cutoff),
      "an uninspectable tree reads as fresh, never as reclaimable")
  }

  test("publishDelta appends a batch as a delta version: centroids " +
      "inherited by reference, loaded postings = base + delta, and a " +
      "second delta flattens the full dir list (one-hop-complete " +
      "manifests)") {
    val dir = tmpDir("annidx7")
    val (c, p) = fixture(8)
    AnnIndex.publish(c, p, dir, k = 4)
    val sess = spark
    import sess.implicits._
    val d1 = (1 to 5).map(i => (i.toLong + 500, Seq(i.toDouble, 3.0),
      3.0, (i % 4 + 1).toLong)).toDF("vec_id", "vd", "nrm", "cell")
    assert(AnnIndex.publishDelta(d1, dir) == "v2")
    val idx2 = AnnIndex.load(spark, dir)
    assert(idx2.version == "v2" && idx2.postings.count() == 13)
    assert(idx2.centroids.count() == 4, "centroids inherited from v1")
    val d2 = (1 to 3).map(i => (i.toLong + 900, Seq(i.toDouble, 4.0),
      4.0, (i % 4 + 1).toLong)).toDF("vec_id", "vd", "nrm", "cell")
    assert(AnnIndex.publishDelta(d2, dir) == "v3")
    val idx3 = AnnIndex.load(spark, dir)
    assert(idx3.postings.count() == 16)
    // all three generations visible through one load
    val ids = idx3.postings.select("vec_id").collect()
      .map(_.getLong(0)).toSet
    assert(ids.exists(_ < 500) && ids.exists(i => i > 500 && i < 900)
      && ids.exists(_ > 900))
  }

  test("version minting CLAIMS the dir atomically and walks past any " +
      "existing dirs (gapped or not): concurrent publishers — even " +
      "cross-process, where the JVM lock cannot serialize — can never " +
      "write into one version dir") {
    val dir = tmpDir("annidx18")
    val (c, p) = fixture(8)
    AnnIndex.publish(c, p, dir, k = 4) // v1
    // dirs another process just claimed (no data yet): the next mint
    // must start ABOVE the highest, never re-enter or fill gaps
    Files.createDirectories(Paths.get(dir, "v2"))
    Files.createDirectories(Paths.get(dir, "v5"))
    assert(AnnIndex.publish(c, p, dir, k = 4) == "v6")
    assert(AnnIndex.load(spark, dir).version == "v6")
    val sess = spark
    import sess.implicits._
    val d1 = Seq((501L, Seq(1.0, 3.0), 3.0, 1L))
      .toDF("vec_id", "vd", "nrm", "cell")
    assert(AnnIndex.publishDelta(d1, dir) == "v7",
      "delta minting claims through the same atomic rule")
  }

  test("a delta REBASES at commit time when the pointer moved under a " +
      "concurrent delta (same inherited quantizer — neither batch " +
      "shadows the other) OR a concurrent COMPACT (bit-identical " +
      "centroid values under a new dir — origin lineage matches), and " +
      "REFUSES when a concurrent full republish changed the centroids " +
      "its cells were assigned against") {
    val dir = tmpDir("annidx19")
    val (c, p) = fixture(8)
    AnnIndex.publish(c, p, dir, k = 4) // v1
    val m1 = AnnIndex.Manifest(4, 4L, 8L,
      "v1/centroids", Seq("v1/postings"), "v1/centroids")
    // pointer unchanged: the resolved manifest commits verbatim
    assert(AnnIndex.rebaseForCommit(dir, "v1", m1) == m1)
    // a concurrent DELTA moved the pointer to v2 (inherits v1's
    // centroids): rebase returns the FRESH chain, so committing
    // fresh.postingsDirs :+ ours keeps both batches visible
    val sess = spark
    import sess.implicits._
    val d1 = Seq((501L, Seq(1.0, 3.0), 3.0, 1L))
      .toDF("vec_id", "vd", "nrm", "cell")
    AnnIndex.publishDelta(d1, dir) // v2, centroids_dir still v1's
    val rebased = AnnIndex.rebaseForCommit(dir, "v1", m1)
    assert(rebased.centroidsDir == "v1/centroids" &&
      rebased.postingsDirs.contains("v2/postings"),
      s"rebase must adopt the fresh chain's postings list; got $rebased")
    // a concurrent COMPACT rewrote the chain: new centroids DIR but
    // bit-identical values (origin carried through) — an in-flight
    // delta, e.g. one racing an operator's POST /v1/ann/compact, must
    // rebase onto the compacted chain, not abort its batch
    assert(AnnIndex.compact(spark, dir) == "v3")
    val m2 = rebased // the delta's view from before the compact
    val overCompact = AnnIndex.rebaseForCommit(dir, "v2", m2)
    assert(overCompact.centroidsDir == "v3/centroids" &&
      overCompact.centroidsOrigin == "v1/centroids" &&
      overCompact.postingsDirs == Seq("v3/postings"),
      s"rebase must cross a compaction via origin lineage; " +
        s"got $overCompact")
    // a concurrent FULL republish retrained the quantizer: its origin
    // is its own dir — refuse
    val (c2, p2) = fixture(6, shift = 0.5)
    AnnIndex.publish(c2, p2, dir, k = 4) // v4, own centroids + origin
    val e = intercept[IllegalStateException] {
      AnnIndex.rebaseForCommit(dir, "v1", m1)
    }
    assert(e.getMessage.contains("quantizer changed"), e.getMessage)
  }

  test("a delta attempt that dies INSIDE the commit-lock acquisition " +
      "(lock wedged past its lease by live holders) reclaims its " +
      "claimed version dir — repeated scheduled attempts against a " +
      "wedged lock must not accumulate one full-size orphan each") {
    val dir = tmpDir("annidx30")
    val (c, p) = fixture(8)
    AnnIndex.publish(c, p, dir, k = 4) // v1
    val lock = Paths.get(dir, "_commit-lock")
    Files.createDirectory(lock)
    // a toucher keeps the foreign lock perpetually FRESH (the
    // live-holders-forever shape); a short lease keeps the deadline
    // backstop reachable in test time (margin scales with the lease).
    // The 50x lease-to-touch-interval ratio is the flake margin: only
    // a >1 s toucher stall (not a routine GC pause) could let the
    // waiter judge the lock stale and commit instead of wedging.
    val prior = sys.props.get("graft.annindex.commitLeaseMs")
    sys.props("graft.annindex.commitLeaseMs") = "1000"
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val toucher = new Thread(() => {
      while (!stop.get()) {
        try Files.setLastModifiedTime(lock,
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis()))
        catch { case scala.util.control.NonFatal(_) => () }
        Thread.sleep(20)
      }
    })
    toucher.setDaemon(true)
    toucher.start()
    try {
      val sess = spark
      import sess.implicits._
      val d1 = Seq((501L, Seq(1.0, 3.0), 3.0, 1L))
        .toDF("vec_id", "vd", "nrm", "cell")
      val e = intercept[IllegalStateException] {
        AnnIndex.publishDelta(d1, dir)
      }
      assert(e.getMessage.contains("wedged"), e.getMessage)
      // the claimed v2 dir (holding the delta's full postings) must be
      // reclaimed on the way out, not left to age through vacuum
      assert(!Files.exists(Paths.get(dir, "v2")),
        "the wedged attempt must reclaim its claimed version dir")
      assert(AnnIndex.currentVersion(dir).contains("v1"))
    } finally {
      stop.set(true); toucher.join(2000)
      prior match {
        case Some(v) => sys.props("graft.annindex.commitLeaseMs") = v
        case None => sys.props.remove("graft.annindex.commitLeaseMs")
      }
      graft.FsTree.delete(lock, bestEffort = true)
    }
  }

  test("two INTERLEAVED committers (cross-process shape: a symlinked " +
      "dir spelling defeats the JVM per-dir lock, exactly like a second " +
      "driver) serialize on the atomic flip-claim: the second can only " +
      "flip AFTER the first, its locked re-check sees the first's " +
      "commit, and NEITHER batch is shadowed") {
    val dir = tmpDir("annidx20")
    // a second spelling of the SAME index: different JVM monitor
    // (lockFor normalizes syntactically, not through symlinks), same
    // files — the cross-process scenario, driven deterministically
    val link = Paths.get(tmpDir("annidx20link"), "idx")
    Files.createSymbolicLink(link, Paths.get(dir))
    val (c, p) = fixture(8)
    AnnIndex.publish(c, p, dir, k = 4) // v1
    val sess = spark
    import sess.implicits._
    val dA = Seq((501L, Seq(1.0, 3.0), 3.0, 1L))
      .toDF("vec_id", "vd", "nrm", "cell")
    val dB = Seq((601L, Seq(2.0, 3.0), 3.0, 2L))
      .toDF("vec_id", "vd", "nrm", "cell")
    val target = Paths.get(dir).toRealPath().toString
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val parkedOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
    AnnIndex.commitFence = { d =>
      val real =
        try Paths.get(d).toRealPath().toString
        catch { case scala.util.control.NonFatal(_) => d }
      if (real == target && parkedOnce.compareAndSet(false, true)) {
        entered.countDown()
        release.await(30, java.util.concurrent.TimeUnit.SECONDS)
        ()
      }
    }
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration._
      // committer A claims v2, writes its postings, acquires the
      // flip-claim, and PARKS inside it — pre-re-check, pre-flip
      val fa = Future(AnnIndex.publishDelta(dA, dir))
      assert(entered.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "committer A never reached the commit lock")
      // committer B (the "other process") claims v3, writes its
      // postings, and must BLOCK on the flip-claim A holds
      val fb = Future(AnnIndex.publishDelta(dB, link.toString))
      val bPosted = {
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        var seen = false
        while (!seen && System.nanoTime() < deadline) {
          val pd = Paths.get(dir, "v3", "postings")
          seen = Files.exists(pd) && {
            val s = Files.walk(pd)
            try {
              import scala.jdk.CollectionConverters._
              s.iterator().asScala.exists(
                _.getFileName.toString.endsWith(".parquet"))
            } finally s.close()
          }
          if (!seen) Thread.sleep(20)
        }
        seen
      }
      assert(bPosted, "committer B never wrote its claimed postings")
      // while A holds the claim, NO flip can land: the pointer still
      // names v1 and B's version has no manifest
      Thread.sleep(300)
      assert(AnnIndex.currentVersion(dir).contains("v1"),
        "no commit may flip the pointer while the claim is held")
      assert(!Files.exists(Paths.get(dir, "v3", "_manifest.json")),
        "B must not commit while A holds the flip-claim")
      release.countDown()
      val vA = Await.result(fa, 60.seconds)
      val vB = Await.result(fb, 60.seconds)
      assert(vA == "v2" && vB == "v3", s"got $vA / $vB")
      // the deterministic ordering proof: B's locked re-check saw A's
      // flip, so B REBASED onto A's chain — its manifest references
      // A's postings dir, which is only possible if B flipped second
      val mB = new String(Files.readAllBytes(
        Paths.get(dir, "v3", "_manifest.json")))
      assert(mB.contains("v2/postings"),
        s"B must have rebased onto A's committed chain; manifest: $mB")
      assert(AnnIndex.currentVersion(dir).contains("v3"))
      val ids = AnnIndex.load(spark, dir).postings
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(ids.contains(501L) && ids.contains(601L),
        s"neither interleaved batch may be shadowed; got $ids")
      assert(!Files.exists(Paths.get(dir, "_commit-lock")),
        "the flip-claim must be released")
    } finally {
      AnnIndex.commitFence = _ => ()
      release.countDown()
    }
  }

  test("a crashed committer's stale _commit-lock (older than the " +
      "lease) is broken — ingest is never wedged by crash residue") {
    val dir = tmpDir("annidx21")
    val (c, p) = fixture(8)
    AnnIndex.publish(c, p, dir, k = 4) // v1
    val lock = Paths.get(dir, "_commit-lock")
    Files.createDirectory(lock)
    Files.setLastModifiedTime(lock, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis()
        - AnnIndex.CommitLeaseMillis - 60000L))
    val sess = spark
    import sess.implicits._
    val d1 = Seq((501L, Seq(1.0, 3.0), 3.0, 1L))
      .toDF("vec_id", "vd", "nrm", "cell")
    assert(AnnIndex.publishDelta(d1, dir) == "v2",
      "a stale claim must be broken, not waited out for the full lease")
    assert(AnnIndex.currentVersion(dir).contains("v2"))
    assert(!Files.exists(lock), "the broken claim must not linger")
  }

  test("a FRESH read lease pins the loaded version AND its referenced " +
      "chain through vacuum — a long probe over since-republished " +
      "history keeps its postings readable; release() frees it") {
    val dir = tmpDir("annidx22")
    val (c, p) = fixture(8)
    AnnIndex.publish(c, p, dir, k = 4) // v1
    val sess = spark
    import sess.implicits._
    val d1 = Seq((501L, Seq(1.0, 3.0), 3.0, 1L))
      .toDF("vec_id", "vd", "nrm", "cell")
    AnnIndex.publishDelta(d1, dir) // v2 (reads v1's postings)
    val h = AnnIndex.load(spark, dir) // the long-lived reader, on v2
    assert(h.leaseFile.exists(Files.exists(_)),
      "load must drop a read lease naming the loaded version")
    val (c2, p2) = fixture(6, shift = 0.5)
    AnnIndex.publish(c2, p2, dir, k = 4) // v3 — h's chain is history now
    // vacuum uses the injected staleClock, so refresh the lease's
    // mtime against it (a live reader's lease is fresh by definition)
    Files.setLastModifiedTime(h.leaseFile.get,
      java.nio.file.attribute.FileTime.fromMillis(staleClock))
    AnnIndex.vacuum(dir, keep = 0, now = staleClock)
    assert(Files.exists(Paths.get(dir, "v2")) &&
      Files.exists(Paths.get(dir, "v1")),
      "a fresh lease must pin the leased version AND the chain its " +
        "manifest references")
    assert(h.postings.count() == 9,
      "the leased handle must stay fully readable after vacuum")
    h.release()
    assert(!Files.exists(h.leaseFile.get))
    AnnIndex.vacuum(dir, keep = 0, now = staleClock)
    assert(!Files.exists(Paths.get(dir, "v1")) &&
      !Files.exists(Paths.get(dir, "v2")),
      "a released lease frees the history for the next vacuum")
    assert(AnnIndex.load(spark, dir).version == "v3")
  }

  test("a STALE read lease is ignored and deleted: a crashed or " +
      "forgotten reader cannot pin history forever") {
    val dir = tmpDir("annidx23")
    val (c, p) = fixture(8)
    AnnIndex.publish(c, p, dir, k = 4) // v1
    val h = AnnIndex.load(spark, dir) // lease on v1, real-clock mtime
    val (c2, p2) = fixture(6, shift = 0.5)
    AnnIndex.publish(c2, p2, dir, k = 4) // v2
    // under the injected staleClock the lease's real-now mtime is past
    // the lease window — exactly a reader that died holding it
    AnnIndex.vacuum(dir, keep = 0, now = staleClock)
    assert(!Files.exists(Paths.get(dir, "v1")),
      "a stale lease must not pin the version it names")
    assert(h.leaseFile.exists(p0 => !Files.exists(p0)),
      "vacuum must delete stale lease files as housekeeping")
  }

  test("vacuum ABORTS when a fresh-LEASED version's manifest is " +
      "unparseable — load() parsed it when the lease was dropped, so " +
      "this is live damage and nothing may be reclaimed") {
    val dir = tmpDir("annidx24")
    val (c, p) = fixture(8)
    AnnIndex.publish(c, p, dir, k = 4) // v1
    val h = AnnIndex.load(spark, dir) // lease on v1
    val (c2, p2) = fixture(6, shift = 0.5)
    AnnIndex.publish(c2, p2, dir, k = 4) // v2, current
    Files.write(Paths.get(dir, "v1", "_manifest.json"),
      "{not json".getBytes)
    Files.setLastModifiedTime(h.leaseFile.get,
      java.nio.file.attribute.FileTime.fromMillis(staleClock))
    // an unrelated stale orphan that an aborted vacuum must NOT touch
    Files.createDirectories(Paths.get(dir, "v9", "postings"))
    AnnIndex.vacuum(dir, keep = 0, now = staleClock)
    assert(Files.exists(Paths.get(dir, "v1")) &&
      Files.exists(Paths.get(dir, "v9")),
      "vacuum must reclaim NOTHING while a leased manifest is damaged")
    h.release()
  }

  test("publishDelta without a committed base fails loudly") {
    val dir = tmpDir("annidx8")
    val (_, p) = fixture(4)
    intercept[IllegalStateException] { AnnIndex.publishDelta(p, dir) }
  }

  test("vacuum never deletes a version a retained manifest references: " +
      "a delta chain's base data outlives any manifest that reads it") {
    val dir = tmpDir("annidx9")
    val (c, p) = fixture(8)
    AnnIndex.publish(c, p, dir, k = 4) // v1: base data
    val sess = spark
    import sess.implicits._
    val d1 = Seq((501L, Seq(1.0, 3.0), 3.0, 1L))
      .toDF("vec_id", "vd", "nrm", "cell")
    AnnIndex.publishDelta(d1, dir) // v2 references v1
    AnnIndex.vacuum(dir, keep = 0, now = staleClock)
    assert(Files.exists(Paths.get(dir, "v1")),
      "v1 holds the current chain's base postings + centroids")
    assert(AnnIndex.load(spark, dir).postings.count() == 9,
      "the chain must stay fully readable after vacuum")
    // a full republish cuts the reference; now v1 and v2 are history
    val (c2, p2) = fixture(6, shift = 0.25)
    AnnIndex.publish(c2, p2, dir, k = 4) // v3, self-contained
    AnnIndex.vacuum(dir, keep = 0, now = staleClock)
    assert(!Files.exists(Paths.get(dir, "v1")))
    assert(!Files.exists(Paths.get(dir, "v2")))
    assert(AnnIndex.load(spark, dir).postings.count() == 6)
  }

  test("load fails loudly on an empty dir and on a pointer naming a " +
      "manifest-less version (a state publish can never produce)") {
    val dir = tmpDir("annidx4")
    intercept[IllegalStateException] { AnnIndex.load(spark, dir) }
    // hand-corrupt: pointer at a version without a manifest
    Files.createDirectories(Paths.get(dir, "v1", "centroids"))
    Files.write(Paths.get(dir, "_current"), "v1".getBytes)
    val e = intercept[IllegalArgumentException] { AnnIndex.load(spark, dir) }
    assert(e.getMessage.contains("manifest"), e.getMessage)
  }

  test("load cross-checks the manifest's centroid count against disk, " +
      "and REFUSES a manifest missing its dir-reference fields (a " +
      "fallback could not tell a legacy manifest from a damaged one — " +
      "serving a guessed subset of a delta chain is silent wrong answers)") {
    val dir = tmpDir("annidx5")
    val (c1, p1) = fixture(8)
    AnnIndex.publish(c1, p1, dir, k = 4)
    val m = Paths.get(dir, "v1", "_manifest.json")
    // corrupt count, dir fields intact → the integrity check fires
    Files.write(m, ("""{"k":4,"centroids":99,"postings":8,""" +
      """"centroids_dir":"v1/centroids","postings_dirs":["v1/postings"]}""")
      .getBytes)
    val e = intercept[IllegalArgumentException] { AnnIndex.load(spark, dir) }
    assert(e.getMessage.contains("corrupt"), e.getMessage)
    // dir fields TORN off (pre-atomic-write damage shape) → loud refusal,
    // not a silent delta-only guess
    Files.write(m, """{"k":4,"centroids":4,"postings":8}""".getBytes)
    val e2 = intercept[IllegalStateException] { AnnIndex.load(spark, dir) }
    assert(e2.getMessage.contains("malformed"), e2.getMessage)
  }

  test("vacuum ABORTS when a retained manifest is unparseable: the " +
      "reference list is unknowable, and deleting anything could " +
      "destroy data the real chain reads (hand-repair must stay " +
      "possible)") {
    val dir = tmpDir("annidx12")
    val (c, p) = fixture(8)
    AnnIndex.publish(c, p, dir, k = 4) // v1
    val sess = spark
    import sess.implicits._
    val d1 = Seq((501L, Seq(1.0, 3.0), 3.0, 1L))
      .toDF("vec_id", "vd", "nrm", "cell")
    AnnIndex.publishDelta(d1, dir) // v2, current, references v1
    // damage the CURRENT manifest
    Files.write(Paths.get(dir, "v2", "_manifest.json"),
      """{"k":4,"centroids":4,"postings":9,"centroids_dir":"v""".getBytes)
    AnnIndex.vacuum(dir, keep = 0)
    assert(Files.exists(Paths.get(dir, "v1")),
      "vacuum must reclaim NOTHING while the current manifest is damaged")
    assert(Files.exists(Paths.get(dir, "v2")))
  }

  test("publishDelta of an EMPTY batch is a committed no-op: base " +
      "version unchanged, no orphan dir, no schema-inference error — " +
      "quiet intervals are routine for a scheduled ingest") {
    val dir = tmpDir("annidx10")
    val (c, p) = fixture(8)
    AnnIndex.publish(c, p, dir, k = 4)
    val empty = p.filter(col("vec_id") < 0)
    assert(AnnIndex.publishDelta(empty, dir) == "v1",
      "empty increment reports the unchanged base version")
    assert(!Files.exists(Paths.get(dir, "v2")), "no orphan dir left")
    assert(AnnIndex.load(spark, dir).postings.count() == 8)
  }

  test("a probed-cell IN filter over the loaded chain reads ONLY those " +
      "cells' partitions on EVERY root (static file-index pruning " +
      "through the multi-root union — the read-side point of the " +
      "cell-partitioned layout, the pattern probePersisted serves with)") {
    val dir = tmpDir("annidx13")
    val (c, p) = fixture(20) // v1: cells 1..4, five rows each
    AnnIndex.publish(c, p, dir, k = 4)
    val sess = spark
    import sess.implicits._
    // v2 delta: cells 1 and 2 only — the chain's roots have UNEQUAL
    // partition layouts, so the per-root pruned counts differ
    val d1 = Seq((501L, Seq(1.0, 3.0), 3.0, 1L),
      (502L, Seq(2.0, 3.0), 3.0, 2L))
      .toDF("vec_id", "vd", "nrm", "cell")
    AnnIndex.publishDelta(d1, dir)
    val idx = AnnIndex.load(spark, dir)
    val probe = Seq((9001L, 2L), (9002L, 4L)).toDF("q_id", "cell")
    val joined = broadcast(probe)
      .join(idx.postings.filter(col("cell").isin(2L, 4L)), "cell")
    joined.collect()
    import graft.plans.PlanChecks
    val pruned = PlanChecks.partitionedScansPruned(joined)
    assert(pruned.size == 2 && pruned.forall(identity),
      s"both chain roots must carry the selective cell filter; " +
        s"got $pruned")
    // v1 holds cells {2,4} of the probe (2 partitions), v2 only cell 2
    // (1 partition): 3 of the layout's 6 partitions read in total
    assert(PlanChecks.partitionsRead(joined) == 3L,
      "the probe must read exactly the probed cells' partitions, " +
        s"not the full layout; read ${PlanChecks.partitionsRead(joined)}")
    assert(joined.count() == 11L,
      "cells 2 and 4 hold 5+5 base + 1 delta rows")
  }

  test("vacuum does not let a DAMAGED manifest consume a keep slot and " +
      "evict the genuine rollback target") {
    val dir = tmpDir("annidx11")
    val (c, p) = fixture(8)
    AnnIndex.publish(c, p, dir, k = 4) // v1: real rollback target
    AnnIndex.publish(c, p, dir, k = 4) // v2
    // v2's manifest torn (damage shape): partial json
    Files.write(Paths.get(dir, "v2", "_manifest.json"),
      """{"k":4,"centroids":4,"postings":8,"centroids_dir":"v2/cen""".getBytes)
    AnnIndex.publish(c, p, dir, k = 4) // v3: current
    AnnIndex.vacuum(dir, keep = 1, now = staleClock)
    assert(Files.exists(Paths.get(dir, "v1")),
      "the parseable predecessor is the rollback target")
    assert(!Files.exists(Paths.get(dir, "v2")),
      "the damaged version is debris, not a keep-slot occupant")
  }

  test("vacuum age-gates orphan reclaim: a FRESH manifest-less dir " +
      "(another process's possible in-flight build) survives, a stale " +
      "one is reclaimed, and referenced delta bases are still kept") {
    val dir = tmpDir("annidx14")
    val (c, p) = fixture(8)
    AnnIndex.publish(c, p, dir, k = 4) // v1: base
    val sess = spark
    import sess.implicits._
    val d1 = Seq((501L, Seq(1.0, 3.0), 3.0, 1L))
      .toDF("vec_id", "vd", "nrm", "cell")
    AnnIndex.publishDelta(d1, dir) // v2: current, references v1
    // a cross-process build mid-write: data present, no manifest yet
    Files.createDirectories(Paths.get(dir, "v3", "postings"))
    Files.write(Paths.get(dir, "v3", "postings", "part-0.parquet"),
      Array[Byte](1))
    AnnIndex.vacuum(dir, keep = 0) // real clock: v3 is seconds old
    assert(Files.exists(Paths.get(dir, "v3")),
      "a fresh orphan may be a live build — vacuum must not delete it")
    assert(Files.exists(Paths.get(dir, "v1")),
      "the referenced delta base is kept regardless")
    AnnIndex.vacuum(dir, keep = 0, now = staleClock)
    assert(!Files.exists(Paths.get(dir, "v3")),
      "a stale orphan is debris — reclaimed once the tree goes quiet")
    assert(Files.exists(Paths.get(dir, "v1")) &&
      Files.exists(Paths.get(dir, "v2")))
  }

  test("vacuum age-gates a MANIFEST-BEARING dir above the pointer too: " +
      "a cross-process publish sits manifest-complete but un-pointed in " +
      "its final commit window (and this vacuum's pointer read may be " +
      "stale) — deleting it would brick the index the moment the writer " +
      "flips the pointer") {
    val dir = tmpDir("annidx17")
    val (c, p) = fixture(8)
    AnnIndex.publish(c, p, dir, k = 4) // v1: current
    // another process's publish of v2: data + manifest written, pointer
    // flip pending
    val v2 = Paths.get(dir, "v2")
    Files.createDirectories(v2.resolve("centroids"))
    Files.createDirectories(v2.resolve("postings"))
    Files.write(v2.resolve("_manifest.json"),
      ("""{"k":4,"centroids":4,"postings":8,""" +
        """"centroids_dir":"v2/centroids","postings_dirs":["v2/postings"]}""")
        .getBytes)
    AnnIndex.vacuum(dir, keep = 0) // real clock: v2 is seconds old
    assert(Files.exists(v2),
      "a fresh manifest-bearing dir above the pointer may be another " +
        "process's publish in its commit window — vacuum must not " +
        "delete it")
    AnnIndex.vacuum(dir, keep = 0, now = staleClock)
    assert(!Files.exists(v2),
      "a stale un-pointed version is an abandoned build — reclaimed")
  }

  test("publish REFUSES an empty frame (postings or centroids) loudly, " +
      "leaves no orphan dir, and the pointer keeps naming the previous " +
      "good version — a zero-row full rebuild is an upstream bug, not " +
      "a commit") {
    val dir = tmpDir("annidx15")
    val (c, p) = fixture(8)
    AnnIndex.publish(c, p, dir, k = 4) // v1: good
    val e = intercept[IllegalArgumentException] {
      AnnIndex.publish(c, p.filter(col("vec_id") < 0), dir, k = 4)
    }
    assert(e.getMessage.contains("EMPTY postings"), e.getMessage)
    assert(!Files.exists(Paths.get(dir, "v2")), "no orphan dir left")
    val e2 = intercept[IllegalArgumentException] {
      AnnIndex.publish(c.filter(col("cent_id") < 0), p, dir, k = 4)
    }
    assert(e2.getMessage.contains("EMPTY centroids"), e2.getMessage)
    // a ZERO-PARTITION empty frame writes no part file at all (unlike
    // the filtered frame above) — the structural check must catch it
    // before the count read-back throws schema inference
    val zeroPart = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], c.schema)
    val e3 = intercept[IllegalArgumentException] {
      AnnIndex.publish(zeroPart, p, dir, k = 4)
    }
    assert(e3.getMessage.contains("EMPTY centroids"), e3.getMessage)
    assert(!Files.exists(Paths.get(dir, "v2")), "no orphan dir left")
    assert(AnnIndex.currentVersion(dir).contains("v1"))
    assert(AnnIndex.load(spark, dir).postings.count() == 8,
      "the refused publishes must not perturb the committed version")
  }

  test("compact rewrites a delta chain as ONE self-contained version: " +
      "identical loaded frames, single postings root, old chain " +
      "versions become vacuumable history; a single-root current " +
      "version is a committed no-op") {
    val dir = tmpDir("annidx16")
    val (c, p) = fixture(8)
    AnnIndex.publish(c, p, dir, k = 4) // v1
    assert(AnnIndex.compact(spark, dir) == "v1",
      "single-root version is already compact — no-op")
    val sess = spark
    import sess.implicits._
    val d1 = Seq((501L, Seq(1.0, 3.0), 3.0, 1L),
      (502L, Seq(2.0, 3.0), 3.0, 2L))
      .toDF("vec_id", "vd", "nrm", "cell")
    AnnIndex.publishDelta(d1, dir) // v2: two roots
    def rows(df: DataFrame) = df
      .select("vec_id", "vd", "nrm", "cell").collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    val before = rows(AnnIndex.load(spark, dir).postings)
    assert(AnnIndex.compact(spark, dir) == "v3")
    val idx = AnnIndex.load(spark, dir)
    assert(idx.version == "v3")
    assert(rows(idx.postings) == before,
      "compaction must not change what a probe sees")
    assert(idx.centroids.count() == 4)
    // the new manifest references only its own version: v1/v2 are
    // plain history now, reclaimed by the usual keep rules
    AnnIndex.vacuum(dir, keep = 0, now = staleClock)
    assert(!Files.exists(Paths.get(dir, "v1")) &&
      !Files.exists(Paths.get(dir, "v2")))
    assert(rows(AnnIndex.load(spark, dir).postings) == before)
  }

  test("release only tears down a commit lock the committer still " +
      "OWNS: a holder stalled past its lease whose claim was broken " +
      "must not delete the usurper's fresh lock (that would cascade a " +
      "THIRD committer into the critical section)") {
    val dir = tmpDir("annidx25")
    val (c, p) = fixture(8)
    AnnIndex.publish(c, p, dir, k = 4) // v1
    val lock = Paths.get(dir, "_commit-lock")
    val target = Paths.get(dir).toAbsolutePath.normalize.toString
    val usurped = new java.util.concurrent.atomic.AtomicBoolean(false)
    AnnIndex.commitFence = { d =>
      val real = Paths.get(d).toAbsolutePath.normalize.toString
      if (real == target && usurped.compareAndSet(false, true)) {
        // simulate a breaker that judged this holder stale: the claim
        // passes to a new owner while the holder sits in its critical
        // section (the holder's own flip is already outside the
        // lease's protection — inherent to a lease — but its CLEANUP
        // must not tear down the new owner's lock)
        graft.FsTree.delete(lock, bestEffort = true)
        Files.createDirectory(lock)
        Files.write(lock.resolve("owner"), "foreign-owner".getBytes)
      }
    }
    try {
      val sess = spark
      import sess.implicits._
      val d1 = Seq((501L, Seq(1.0, 3.0), 3.0, 1L))
        .toDF("vec_id", "vd", "nrm", "cell")
      AnnIndex.publishDelta(d1, dir)
      assert(Files.exists(lock) &&
        new String(Files.readAllBytes(lock.resolve("owner")))
          == "foreign-owner",
        "the stalled holder must leave the usurper's lock untouched")
    } finally {
      AnnIndex.commitFence = _ => ()
      graft.FsTree.delete(lock, bestEffort = true)
    }
  }

  test("a stale _commit-lock CONTAINING the crashed holder's ownership " +
      "stamp is broken promptly via the rename-aside (a bare delete " +
      "can never clear a non-empty dir — the old breaker would have " +
      "spun to the deadline and wedged ingest for the whole lease)") {
    val dir = tmpDir("annidx26")
    val (c, p) = fixture(8)
    AnnIndex.publish(c, p, dir, k = 4) // v1
    val lock = Paths.get(dir, "_commit-lock")
    Files.createDirectory(lock)
    Files.write(lock.resolve("owner"), "crashed-holder".getBytes)
    val old = System.currentTimeMillis() -
      AnnIndex.CommitLeaseMillis - 60000L
    val ft = java.nio.file.attribute.FileTime.fromMillis(old)
    Files.setLastModifiedTime(lock.resolve("owner"), ft)
    Files.setLastModifiedTime(lock, ft)
    val sess = spark
    import sess.implicits._
    val d1 = Seq((501L, Seq(1.0, 3.0), 3.0, 1L))
      .toDF("vec_id", "vd", "nrm", "cell")
    assert(AnnIndex.publishDelta(d1, dir) == "v2",
      "a stale non-empty claim must be broken, not spun on")
    assert(!Files.exists(lock), "the claim must be released after commit")
    assert(AnnIndex.currentVersion(dir).contains("v2"))
  }

  test("load drops its read lease BEFORE the first manifest read and " +
      "RETRIES against the moved pointer when a racing republish + " +
      "vacuum (leases listed before ours landed) reclaimed the " +
      "resolved version mid-load") {
    val dir = tmpDir("annidx27")
    val (c, p) = fixture(8)
    AnnIndex.publish(c, p, dir, k = 4) // v1
    val (c2, p2) = fixture(6, shift = 0.5)
    val target = Paths.get(dir).toAbsolutePath.normalize.toString
    val raced = new java.util.concurrent.atomic.AtomicBoolean(false)
    val leaseSeen = new java.util.concurrent.atomic.AtomicBoolean(false)
    AnnIndex.loadFence = { d =>
      val real = Paths.get(d).toAbsolutePath.normalize.toString
      if (real == target && raced.compareAndSet(false, true)) {
        // the lease must already be on disk at this seam — written
        // BEFORE any read, or the whole read window is exposed
        val s = Files.list(Paths.get(dir))
        try {
          import scala.jdk.CollectionConverters._
          leaseSeen.set(s.iterator().asScala.exists(
            _.getFileName.toString.startsWith("_reading-")))
        } finally s.close()
        // the race: v2 commits and a vacuum whose lease snapshot
        // predates ours reclaims v1 out from under this load
        AnnIndex.publish(c2, p2, dir, k = 4) // v2
        graft.FsTree.delete(Paths.get(dir, "v1"), bestEffort = false)
      }
    }
    try {
      val h = AnnIndex.load(spark, dir)
      assert(leaseSeen.get,
        "the read lease must land before the first manifest read")
      assert(h.version == "v2",
        "load must retry against the new pointer, not die on the " +
          "reclaimed version")
      assert(h.postings.count() == 6)
      h.release()
    } finally AnnIndex.loadFence = _ => ()
  }

  test("load freshens the mtime of the pointer version AND every chain " +
      "member its manifest references before reading: vacuum's uniform " +
      "age gate (read at decision time, directly before each delete) " +
      "then shields the whole chain's read window even from a vacuum " +
      "whose lease snapshot predates this load's lease — a fresh v2 " +
      "with a stale-mtime v1 base would lose its postings mid-probe") {
    val dir = tmpDir("annidx28")
    val (c, p) = fixture(8)
    AnnIndex.publish(c, p, dir, k = 4) // v1
    val sess = spark
    import sess.implicits._
    val d1 = Seq((501L, Seq(1.0, 3.0), 3.0, 1L))
      .toDF("vec_id", "vd", "nrm", "cell")
    AnnIndex.publishDelta(d1, dir) // v2: chain references v1's postings
    val v1 = Paths.get(dir, "v1")
    val v2 = Paths.get(dir, "v2")
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 10L * 60 * 60 * 1000)
    Files.setLastModifiedTime(v1, old)
    Files.setLastModifiedTime(v2, old)
    AnnIndex.load(spark, dir).release()
    val floor = System.currentTimeMillis() - 60000L
    assert(Files.getLastModifiedTime(v2).toMillis > floor,
      "load must touch the pointer version so the age gate sees a " +
        "live reader")
    assert(Files.getLastModifiedTime(v1).toMillis > floor,
      "load must touch the referenced delta BASE too — the lease " +
        "walk protects it only when the lease was seen")
  }

  test("the s18 fixture probe releases its read lease eagerly: a query " +
      "run leaves no _reading-* residue pinning the scratch store's " +
      "history against vacuum (one hour-long lease per Verify/Bench " +
      "run would otherwise accumulate)") {
    // a DISTINCT sf-dir spelling (trailing slash) keys a scratch root
    // no concurrently-running suite shares — scratch() wipes its root
    // per invocation, so sharing PlanSpec/QueriesSpec's root would race
    val sf = "/root/testdata/sf0.001/"
    graft.SparkEntry.queries("s18_ann_persisted_index")(spark, sf)
      .collect()
    val ivf = LayoutOps.scratchBase
      .resolve(s"graft-s18-${Integer.toHexString(sf.hashCode)}/ivf")
    assert(Files.isDirectory(ivf), "the s18 scratch index must exist after a run")
    val ls = Files.list(ivf)
    val leaked = try {
      import scala.jdk.CollectionConverters._
      ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("_reading-")).toList
    } finally ls.close()
    assert(leaked.isEmpty, s"leaked read leases: $leaked")
  }

  test("STRESS: ten concurrent delta committers across two dir " +
      "spellings (the symlink defeats the JVM per-dir lock — the " +
      "cross-process shape) all land under real racing: every batch " +
      "visible in the final chain, distinct versions, lock released") {
    val dir = tmpDir("annidx31")
    val link = Paths.get(tmpDir("annidx31link"), "idx")
    Files.createSymbolicLink(link, Paths.get(dir))
    val (c, p) = fixture(8)
    AnnIndex.publish(c, p, dir, k = 4) // v1
    val sess = spark
    import sess.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val futures = (1 to 10).map { i =>
      Future {
        val d = Seq((500L + i, Seq(i.toDouble, 3.0), 3.0,
          (i % 4 + 1).toLong)).toDF("vec_id", "vd", "nrm", "cell")
        AnnIndex.publishDelta(d,
          if (i % 2 == 0) dir else link.toString)
      }
    }
    val versions = Await.result(Future.sequence(futures), 180.seconds)
    assert(versions.distinct.size == 10,
      s"every delta must mint its own version; got $versions")
    val ids = AnnIndex.load(spark, dir).postings
      .select("vec_id").collect().map(_.getLong(0)).toSet
    (1 to 10).foreach(i => assert(ids.contains(500L + i),
      s"batch ${500 + i} was shadowed under contention; got $ids"))
    assert(ids.size == 18, s"8 base + 10 deltas; got ${ids.size}")
    assert(!Files.exists(Paths.get(dir, "_commit-lock")),
      "the flip-claim must be released after the storm")
  }

  test("STRESS: loads racing republishes + immediate keep=0 vacuums " +
      "(orphan age gate disabled, so only the lease/retry machinery " +
      "protects the read) never fail: every load lands on a committed " +
      "version with intact centroids") {
    val dir = tmpDir("annidx32")
    val (c, p) = fixture(8)
    AnnIndex.publish(c, p, dir, k = 4) // v1
    val prior = sys.props.get("graft.annindex.orphanAgeMs")
    sys.props("graft.annindex.orphanAgeMs") = "0"
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration._
      val publisher = Future {
        (1 to 12).foreach { i =>
          val (ci, pi) = fixture(6, shift = i * 0.1)
          AnnIndex.publish(ci, pi, dir, k = 4)
          // real-clock vacuum: fresh leases protect readers, the
          // zeroed age gate protects nothing — the reclaim race is
          // live and load's lease-first + retry must absorb it
          AnnIndex.vacuum(dir, keep = 0)
          Thread.sleep(50)
        }
      }
      val readers = (1 to 2).map(_ => Future {
        (1 to 10).foreach { _ =>
          // load() itself centroid-counts the version it lands on
          // (integrity check) — returning at all means the lease-first
          // + retry machinery absorbed any reclaim race. No post-
          // return re-read here: with the age gate zeroed, a vacuum
          // whose lease snapshot predates this lease may reclaim the
          // version after return (the documented lease-snapshot
          // residual that the mtime touch normally covers).
          val h = AnnIndex.load(spark, dir)
          assert(h.k == 4 && h.version.startsWith("v"))
          h.release()
          Thread.sleep(20)
        }
      })
      Await.result(Future.sequence(publisher +: readers), 300.seconds)
    } finally {
      prior match {
        case Some(v) => sys.props("graft.annindex.orphanAgeMs") = v
        case None => sys.props.remove("graft.annindex.orphanAgeMs")
      }
    }
  }

  test("probeAssignment broadcasts the k-row centroid side (never a " +
      "shuffled or sort-merge join — the centroid frame is " +
      "constant-size at any corpus scale): the O(Q·k) discipline the " +
      "cached-RDD leaf hides from s18's final plan") {
    val dir = tmpDir("annidx29")
    val (c, p) = fixture(8)
    AnnIndex.publish(c, p, dir, k = 4)
    val idx = AnnIndex.load(spark, dir)
    val sess = spark
    import sess.implicits._
    val queries = Seq((1L, Seq(1.0, 2.0), 2.0), (2L, Seq(2.0, 2.0), 2.5))
      .toDF("q_id", "qv", "qn")
    val plan = SimilarityOps.probeAssignment(queries, idx, nprobe = 2)
    val ops = graft.plans.PlanChecks.physical(plan)
      .map(_.getClass.getSimpleName)
    assert(ops.exists(_.startsWith("BroadcastNestedLoopJoin")),
      s"centroid side must broadcast; got $ops")
    assert(!ops.exists(_.contains("SortMergeJoin")) &&
      !ops.exists(_.contains("ShuffledHashJoin")),
      s"assignment must never shuffle; got $ops")
    assert(plan.count() == 4,
      "each query assigned to its nprobe nearest centroids")
    idx.release()
  }
}
