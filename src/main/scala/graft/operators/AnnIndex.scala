package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets

/** Parquet-backed persistent ANN index store — the build-once/probe-many
  * half of the production similarity-search story. s03/s07 prove the IVF
  * math but rebuild the whole index (centroid sampling + corpus
  * assignment) inside every query; a 100 TB deployment builds the index
  * once (one O(N·k) pass), persists it, and serves many probe batches
  * against the artifact. This store holds the two IVF support structures:
  *
  *  - `centroids`: the coarse quantizer (k rows — tiny; probes broadcast it)
  *  - `postings`: the inverted lists — one row per corpus vector
  *    (vec_id, vd, nrm), written PARTITIONED BY `cell` so a probe that
  *    touches nprobe cells prunes the scan to those partitions (static
  *    pruning for literal cell predicates; dynamic partition pruning
  *    under the broadcast probe join).
  *
  * Versioned layout (the UpsertSink manifest-plus-pointer discipline,
  * UpsertSink.scala — readers resolve a pointer, so a crash mid-build
  * never exposes a half-written index):
  *
  * {{{
  *   indexDir/v<N>/centroids/         (parquet files)
  *   indexDir/v<N>/postings/cell=<id>/ (parquet files)
  *   indexDir/v<N>/_manifest.json   written LAST inside the version
  *   indexDir/_current              pointer "v<N>"; tmp + ATOMIC_MOVE flip
  *   indexDir/_commit-lock          atomic flip-claim dir, age-leased
  *   indexDir/_reading-<token>      read lease naming a loaded version
  * }}}
  *
  * [[publish]] writes the next version dir, its manifest, then flips the
  * pointer atomically; [[load]] resolves the pointer and REQUIRES the
  * manifest (a version dir without one is a crashed build, and the
  * pointer still names the previous good version). Orphaned version dirs
  * are reclaimed by [[vacuum]] (age-gated: a fresh dir may be another
  * process's build in flight). Cross-process concurrency: version
  * minting claims the version dir with an atomic createDirectory
  * ([[claimNextVersion]]) so two builders can never write into one
  * dir; every pointer flip happens inside an atomic flip-claim
  * ([[withCommitLock]] — a `_commit-lock` dir created atomically,
  * age-leased so a crashed committer cannot wedge the index), so a
  * delta's commit-time pointer re-check and its own flip are one
  * atomic step: a delta whose pointer moved since its base resolution
  * REBASES onto the fresh chain (or refuses when a full republish
  * changed the quantizer — [[rebaseForCommit]]), and no concurrent
  * flip can land between that re-check and the flip. Concurrent FULL
  * publishes still resolve last-pointer-wins between two complete
  * versions. Within one JVM a per-dir lock serializes
  * publish/compact/vacuum.
  */
object AnnIndex {

  /** A loaded index version: `centroids` is k rows (broadcast it),
    * `postings` one row per indexed vector, `cell` restored to LONG
    * (partition-column inference would otherwise narrow small ids).
    * `leaseFile` is the read lease [[load]] dropped — vacuum keeps the
    * leased version (and everything its manifest references) while the
    * lease is younger than [[ReadLeaseMillis]], so a long probe over a
    * since-republished version cannot have its postings reclaimed
    * mid-read. Call [[Handle.release]] when done with the handle to
    * free the history immediately; an unreleased lease simply ages out. */
  final case class Handle(version: String, k: Int,
      centroids: DataFrame, postings: DataFrame,
      leaseFile: Option[Path] = None) {
    def release(): Unit = leaseFile.foreach { p =>
      try Files.deleteIfExists(p)
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  private val publishLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(dir: String): Object =
    publishLocks.computeIfAbsent(
      Paths.get(dir).toAbsolutePath.normalize.toString, _ => new Object)

  /** Index roots this process's API has operated on (publish / delta /
    * load / compact / vacuum) — the allowlist the management HTTP
    * endpoints check before acting on a `dir=` parameter. The server
    * may describe, compact, and vacuum stores the ENGINE owns; an
    * arbitrary driver-filesystem path named by a network client is
    * refused as unknown (404, no existence probe) — `/v1/ann` must not
    * be a remote mutation primitive over the whole filesystem the way
    * `dead_set`/`queries` endpoints only name engine-owned entities. */
  private val knownRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def registerRoot(indexDir: String): Unit =
    knownRoots.add(Paths.get(indexDir).toAbsolutePath.normalize.toString)
  def isRegistered(indexDir: String): Boolean =
    knownRoots.contains(
      Paths.get(indexDir).toAbsolutePath.normalize.toString)

  private def pointerPath(indexDir: String): Path =
    Paths.get(indexDir, "_current")

  private def commitLockPath(indexDir: String): Path =
    Paths.get(indexDir, "_commit-lock")

  /** Lease age after which another committer's `_commit-lock` is
    * broken. A commit holds the lock for two small file writes
    * (manifest + pointer flip) — milliseconds — so a lock older than
    * this is crash residue, not a slow commit; breaking it keeps a
    * crashed committer from wedging all ingest. Override with
    * -Dgraft.annindex.commitLeaseMs. */
  private[operators] def CommitLeaseMillis: Long =
    sys.props.get("graft.annindex.commitLeaseMs").flatMap(_.toLongOption)
      .getOrElse(10L * 60 * 1000)

  /** Test seam: invoked INSIDE the commit lock, before `body` runs —
    * lets a spec park one committer at the exact re-check-to-flip seam
    * and drive two interleaved committers deterministically. Keyed by
    * indexDir so concurrent suites don't interfere. */
  @volatile private[operators] var commitFence: String => Unit = _ => ()

  /** Run `body` (the pointer-flipping commit step) holding the
    * cross-process flip-claim: an atomic `createDirectory` on
    * `_commit-lock`, stamped inside with this holder's ownership token.
    * A lock whose mtime is older than [[CommitLeaseMillis]] is a
    * crashed committer's residue and is broken by RENAMING it aside
    * (atomic move — exactly one of several would-be breakers wins; a
    * bare delete raced: two breakers could both judge the lock stale,
    * and the slower one's delete would destroy the FRESH lock the
    * faster one had already re-created, admitting two committers into
    * the critical section). Release deletes the lock only while the
    * ownership token inside still matches — a holder that stalled past
    * its lease and was broken must not tear down the lock of whoever
    * legitimately claimed it since (that holder's own flip is already
    * outside the lease's protection — inherent to a lease — but its
    * cleanup must not cascade a THIRD committer in). A live holder is
    * waited out, bounded by lease + margin as a loud backstop. */
  private def withCommitLock[T](indexDir: String)(body: => T): T = {
    val lock = commitLockPath(indexDir)
    val token = java.util.UUID.randomUUID().toString
    // margin scales with the lease (floor 1 s, cap 30 s): headroom to
    // wait out a live holder at the default 10-minute lease, and a
    // short-lease override (specs, fast-ingest tuning) keeps the
    // backstop reachable in bounded time
    val deadline = System.currentTimeMillis() + CommitLeaseMillis +
      math.min(30000L, math.max(1000L, CommitLeaseMillis))
    def wedged(): Nothing = throw new IllegalStateException(
      s"ANN index commit lock at $lock held past its lease — live " +
        "committers are continuously holding it, or the filesystem " +
        "refuses to break a stale claim; ingest is wedged, inspect " +
        "the lock dir")
    var acquired = false
    while (!acquired) {
      try {
        Files.createDirectory(lock)
        try Files.write(lock.resolve("owner"),
          token.getBytes(StandardCharsets.UTF_8))
        catch { case e: java.io.IOException =>
          // claimed but couldn't stamp ownership (disk full, mount
          // flip): release the half-made lock rather than leaving an
          // unowned claim that only the stale-breaker could clear.
          // RECURSIVE best-effort delete — the failed write can leave
          // a partial owner file, and a bare deleteIfExists on the
          // then-non-empty dir would throw DirectoryNotEmpty
          // (swallowed) and leave a fresh unowned lock wedging
          // committers for a lease
          graft.FsTree.delete(lock, bestEffort = true)
          throw e
        }
        acquired = true
      }
      catch { case _: java.nio.file.FileAlreadyExistsException =>
        val stale =
          try Files.getLastModifiedTime(lock).toMillis <
            System.currentTimeMillis() - CommitLeaseMillis
          catch { case _: java.io.IOException => false } // vanished/unreadable: retry
        if (stale) {
          val aside = lock.resolveSibling(
            s"_commit-lock.broken-${java.util.UUID.randomUUID()}")
          val broke =
            try {
              Files.move(lock, aside,
                java.nio.file.StandardCopyOption.ATOMIC_MOVE)
              graft.FsTree.delete(aside, bestEffort = true)
              true
            }
            catch { case _: java.io.IOException => false }
          if (!broke) {
            // another breaker won the move (benign — retry claims the
            // fresh lock) OR the filesystem refuses the rename outright
            // (no ATOMIC_MOVE on this mount, rename denied): either
            // way this path must stay BOUNDED — without the deadline
            // and pause a permanently refusing mount turns the break
            // attempt into an unbounded 100% CPU busy-spin and the
            // loud backstop is never reached
            if (System.currentTimeMillis() > deadline) wedged()
            Thread.sleep(25)
          }
        } else {
          if (System.currentTimeMillis() > deadline) wedged()
          Thread.sleep(25)
        }
      }
    }
    try { commitFence(indexDir); body }
    finally {
      // Release: PRE-CHECK ownership without touching the lock, then
      // capture-and-inspect as the atomic double-check. The pre-check
      // makes the common broken-holder case a pure no-op: a holder
      // stalled past its lease reads its SUCCESSOR's stamp and walks
      // away — it never captures that lock (capturing it would open a
      // lock-path vacancy a third committer could claim, and racing
      // the successor's own release could resurrect an already-
      // released ownerless lock that wedges ingest for a lease). The
      // capture then runs only when the pre-check saw OUR token, so
      // the inspect-mismatch branch below is reachable only in the
      // instant between pre-check and move — restore the claim, or
      // drop it if a third claimant already re-created the lock in
      // that instant (lease-not-lock: that microsecond pathology atop
      // a ≥lease stall is the documented residual).
      // The ONE ownership-stamp reader for both checks: None = missing
      // or unreadable (NOT a verdict — a transient read failure must
      // never decide ownership either way).
      def stamp(d: java.nio.file.Path): Option[String] =
        try {
          val o = d.resolve("owner")
          if (Files.exists(o)) Some(new String(Files.readAllBytes(o),
            StandardCharsets.UTF_8))
          else None
        } catch { case scala.util.control.NonFatal(_) => None }
      try {
        // only a DEFINITIVE not-ours verdict walks away; an unreadable
        // or missing stamp proceeds to the capture — skipping release
        // on a transient read failure would leave our own healthy lock
        // in place and wedge every committer for a full lease (a
        // missing lock just makes the capture's move no-op below)
        val notOurs = stamp(lock).exists(_ != token)
        if (!notOurs) {
          val trash =
            lock.resolveSibling(s"_commit-lock.release-$token")
          Files.move(lock, trash,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          if (stamp(trash).contains(token))
            graft.FsTree.delete(trash, bestEffort = true)
          else
            try Files.move(trash, lock,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            catch { case _: java.io.IOException =>
              graft.FsTree.delete(trash, bestEffort = true)
            }
        }
      }
      catch { case scala.util.control.NonFatal(_) => () } // already broken + cleaned
    }
  }

  private val VersionName = "^v(\\d+)$".r

  /** The committed version named by the pointer, if any. */
  def currentVersion(indexDir: String): Option[String] = {
    val p = pointerPath(indexDir)
    if (!Files.exists(p)) None
    else Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim)
      .filter(v => VersionName.findFirstIn(v).isDefined)
  }

  /** Mint AND claim the next version: the version dir is created with
    * an atomic `createDirectory` (fails on exists), retrying upward on
    * collision — so two publishers, even in DIFFERENT processes where
    * the per-dir JVM lock cannot serialize them, can never write into
    * the same version dir (both computing maxVersionOnDisk+1 and
    * clobbering each other's data files was the one remaining
    * multi-writer corruption; with atomic claims, concurrent publishes
    * are safe and the pointer flip is last-writer-wins between two
    * COMPLETE versions). Starting from maxVersionOnDisk+1 (not the
    * pointer) also never re-enters an orphaned dir a crashed build
    * left behind. */
  private def claimNextVersion(indexDir: String): String = {
    var n = maxVersionOnDisk(indexDir) + 1
    while (!{
      try { Files.createDirectory(Paths.get(s"$indexDir/v$n")); true }
      catch { case _: java.nio.file.FileAlreadyExistsException =>
        n += 1; false }
    }) ()
    s"v$n"
  }

  /** Highest version number present ON DISK (committed or orphaned) — the
    * next publish must clear BOTH: minting from the pointer alone would
    * re-enter an orphaned dir a crashed build left behind. */
  private def maxVersionOnDisk(indexDir: String): Long = {
    val d = Paths.get(indexDir)
    if (!Files.exists(d)) 0L
    else {
      val s = Files.list(d)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.flatMap(p =>
          VersionName.findFirstMatchIn(p.getFileName.toString)
            .map(_.group(1).toLong))
          .foldLeft(0L)(math.max)
      } finally s.close()
    }
  }

  /** Any part file under `dir` — the structural emptiness check shared
    * by publish and publishDelta: reading a 0-row partitioned dir back
    * would throw an unrelated schema-inference error, so emptiness is
    * detected from the files the write just produced, never by
    * pre-counting the input (that would double-run its plan). */
  private def hasParts(dir: String): Boolean = {
    val s = Files.walk(Paths.get(dir))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.exists(p =>
        p.getFileName.toString.endsWith(".parquet"))
    } finally s.close()
  }

  /** Build a new FULL index version from the support frames and commit
    * it. `centroids` must carry (cent_id, cv, cn); `postings`
    * (vec_id, vd, nrm, cell). Returns the committed version name. The
    * manifest records k, both row counts (the centroid count doubles as
    * the integrity check load applies), and the dirs the version reads —
    * a full publish references only its own.
    *
    * An EMPTY input frame is REFUSED loudly (and the version dir
    * reclaimed): unlike a delta — where a quiet interval is routine — a
    * full rebuild that produced zero centroids or zero postings is an
    * upstream bug, and committing it would brick every later load
    * (the count-back read of an empty partitioned dir throws a
    * schema-inference error, not a useful one). */
  def publish(centroids: DataFrame, postings: DataFrame,
      indexDir: String, k: Int,
      centroidsOrigin: Option[String] = None): String =
    lockFor(indexDir).synchronized {
    require(k > 0, s"centroid count k must be positive, got $k")
    registerRoot(indexDir)
    Files.createDirectories(Paths.get(indexDir))
    val version = claimNextVersion(indexDir)
    val vdir = s"$indexDir/$version"
    // REBALANCE before each write (guide §6 file sizing): without it the
    // partitioned postings write emits one file per (upstream task, cell)
    // — measured 898 files for a 5,000-row index at sf0.1, each ~8 KB,
    // taxing the write commit, the count-back, and every later load with
    // per-file overhead. Rebalancing by `cell` colocates each cell's rows
    // (one file per small cell) while AQE still SPLITS an oversized hot
    // cell into multiple part files — correct in both directions at any
    // scale. Centroids are k rows: a bare rebalance folds them to one
    // advisory-sized file.
    // row counts ride the writes as OBSERVED metrics instead of two
    // read-back count() jobs: observe() attaches a CollectMetrics node
    // whose aggregate is computed by the write action itself, so the
    // manifest counts cost zero extra jobs (and zero extra file-footer
    // reads) at any scale
    val centObs = new org.apache.spark.sql.Observation()
    val postObs = new org.apache.spark.sql.Observation()
    centroids.observe(centObs, count(lit(1)).as("n"))
      .hint("rebalance").write.mode("overwrite")
      .parquet(s"$vdir/centroids")
    postings.observe(postObs, count(lit(1)).as("n"))
      .hint("rebalance", col("cell")).write.mode("overwrite")
      .partitionBy("cell").parquet(s"$vdir/postings")
    def refuseEmpty(what: String): Nothing = {
      graft.FsTree.delete(Paths.get(vdir), bestEffort = true)
      throw new IllegalArgumentException(
        s"refusing to publish ANN index version with EMPTY $what at " +
          s"$indexDir: a full rebuild over zero rows is an upstream " +
          "bug, not a commit (an empty scheduled increment belongs to " +
          "publishDelta, which no-ops)")
    }
    // BOTH dirs are still checked structurally — the observed count
    // proves rows flowed through the plan, the part-file check proves
    // the write landed them on disk; refusing on either keeps a
    // zero-row or file-less version from ever reaching commit.
    if (!hasParts(s"$vdir/postings")) refuseEmpty("postings")
    if (!hasParts(s"$vdir/centroids")) refuseEmpty("centroids")
    val nCents = centObs.get("n").asInstanceOf[Long]
    if (nCents == 0L) refuseEmpty("centroids")
    val nPosts = postObs.get("n").asInstanceOf[Long]
    if (nPosts == 0L) refuseEmpty("postings")
    // The manifest's centroid count doubles as load()'s integrity gate,
    // so the RECORDED value must be disk truth, not an accumulator:
    // observed metrics can drift from rows actually landed under stage
    // retries/speculative execution on a real cluster, and a drifted
    // value would permanently brick an otherwise-valid version at every
    // later load ("corrupt version; republish"). The verify read is k
    // rows from the one rebalanced centroids file — nothing like the
    // O(index) postings count-back the observe() metrics removed (the
    // postings count is informational, never an integrity gate).
    val diskCents =
      centroids.sparkSession.read.parquet(s"$vdir/centroids").count()
    if (diskCents == 0L) refuseEmpty("centroids")
    if (diskCents != nCents)
      System.err.println(s"[annindex] observed centroid count $nCents " +
        s"!= disk $diskCents at $vdir (stage retry/speculation drift); " +
        "manifest records the disk truth")
    // the flip-claim here is what makes a concurrent delta's locked
    // re-check sound: a full republish can never flip between that
    // delta's pointer re-resolve and its own flip
    withCommitLock(indexDir) {
      commit(indexDir, version, k, diskCents, nPosts,
        centroidsDir = s"$version/centroids",
        postingsDirs = Seq(s"$version/postings"),
        // a fresh full publish IS its own quantizer origin; compact
        // passes the chain's recorded origin through so a rewrite is
        // never mistaken for a re-train (see Manifest.centroidsOrigin)
        centroidsOrigin = centroidsOrigin
          .getOrElse(s"$version/centroids"))
    }
    version
  }

  /** Append a batch of NEW vectors as a DELTA version — the O(batch)
    * ingest path of a standing index (s16's topology, persisted). The
    * coarse quantizer is INHERITED: the delta's `postings` must carry
    * cell assignments computed against the current version's centroids
    * (standard IVF incremental ingest — re-training centroids is a full
    * [[publish]]). The new version's dir holds only the delta; its
    * manifest references the current version's centroid dir and its
    * FULL postings-dir list plus the delta (flattened at publish, so
    * references are one-hop complete and a rollback target's manifest
    * is self-sufficient). Readers resolve the pointer exactly as for a
    * full version; [[vacuum]] keeps every version whose dirs a kept
    * manifest references. */
  def publishDelta(postings: DataFrame, indexDir: String): String =
    lockFor(indexDir).synchronized {
      registerRoot(indexDir)
      val base = currentVersion(indexDir).getOrElse(throw
        new IllegalStateException(
          s"no committed ANN index at $indexDir to delta onto: " +
            "publish a full version first"))
      val m = requireManifest(indexDir, base)
      val version = claimNextVersion(indexDir)
      val vdir = s"$indexDir/$version"
      // same rebalance-by-cell as [[publish]] — delta batches are the
      // path that accumulates files fastest (one ingest per interval);
      // the row count rides the write as an observed metric (no
      // read-back job), same as publish
      val obs = new org.apache.spark.sql.Observation()
      postings.observe(obs, count(lit(1)).as("n"))
        .hint("rebalance", col("cell")).write.mode("overwrite")
        .partitionBy("cell").parquet(s"$vdir/postings")
      // an EMPTY increment is routine for a scheduled ingest (quiet
      // interval): commit nothing, reclaim the version number's dir,
      // report the base unchanged — see [[hasParts]] for why emptiness
      // is structural.
      if (!hasParts(s"$vdir/postings")) {
        graft.FsTree.delete(Paths.get(vdir), bestEffort = true)
        base
      } else {
        val nNew = obs.get("n").asInstanceOf[Long]
        // re-resolve the pointer AT COMMIT TIME, inside the atomic
        // flip-claim: a concurrent publisher may have flipped it since
        // our base resolution, and committing against the stale base
        // would silently shadow their batch (last-pointer-wins). The
        // lock makes re-check-and-flip ONE atomic step — no concurrent
        // flip can land between them, so the rebase is exact, not
        // best-effort. See [[rebaseForCommit]]. The catch covers BOTH
        // failure shapes — a rebase refusal (concurrent re-train) AND
        // withCommitLock itself throwing before the body runs (lock
        // wedged past its lease, owner-stamp IO failure): either way
        // the claimed dir holds a full delta's postings, and repeated
        // scheduled attempts against a wedged lock would otherwise
        // accumulate one full-size orphan per attempt until a vacuum
        // ages them out. The `committed` flag scopes the reclaim to
        // strictly PRE-FLIP failures: a fatal error escaping the
        // lock-release finally (which runs AFTER the pointer flip and
        // swallows only NonFatal) must never delete the version
        // _current now names.
        var committed = false
        try withCommitLock(indexDir) {
          val mNow = rebaseForCommit(indexDir, base, m)
          commit(indexDir, version, mNow.k,
            nCents = mNow.centroids,
            nPosts = mNow.postings + nNew,
            centroidsDir = mNow.centroidsDir,
            postingsDirs = mNow.postingsDirs :+ s"$version/postings",
            centroidsOrigin = mNow.centroidsOrigin)
          committed = true
        }
        catch { case e: Throwable =>
          // double guard: the flag (set right after commit returns)
          // AND the pointer itself — an async fatal landing in the
          // instant between commit()'s pointer flip and the flag
          // assignment must still never delete the version _current
          // now names
          val pointsHere =
            try currentVersion(indexDir).contains(version)
            catch { case scala.util.control.NonFatal(_) =>
              true } // unreadable pointer: refuse to delete, keep `e`
          if (!committed && !pointsHere)
            graft.FsTree.delete(Paths.get(vdir), bestEffort = true)
          throw e
        }
        version
      }
    }

  /** The manifest a delta should commit AGAINST, re-resolved at commit
    * time: when the pointer still names `base`, that is `m` verbatim;
    * when a concurrent commit moved it but the fresh chain's
    * QUANTIZER LINEAGE matches ours (`centroids_origin` — a concurrent
    * DELTA inherits it; a concurrent [[compact]] copies the centroid
    * values bit-for-bit and carries the origin through, so its new
    * centroids dir is NOT a quantizer change), the delta REBASES —
    * committing the fresh manifest's postings list plus its own dir,
    * so neither batch shadows the other; when a concurrent FULL
    * republish moved it, the origin differs: this batch's cell
    * assignments are against the OLD centroid values — refuse loudly
    * (re-assign and re-ingest). Comparing dirs instead of origins
    * would make every operator-triggered `POST /v1/ann/compact` during
    * live ingest abort the in-flight batch for no reason. Callers run
    * this INSIDE [[withCommitLock]], which makes the re-check and the
    * caller's flip one atomic step: no concurrent flip can land
    * between them, so the rebase is exact. */
  private[operators] def rebaseForCommit(indexDir: String, base: String,
      m: Manifest): Manifest = {
    val baseNow = currentVersion(indexDir).getOrElse(base)
    if (baseNow == base) m
    else {
      val fresh = requireManifest(indexDir, baseNow)
      if (fresh.centroidsOrigin != m.centroidsOrigin)
        throw new IllegalStateException(
          s"concurrent FULL republish at $indexDir while this delta " +
            s"was in flight: the quantizer changed " +
            s"(${m.centroidsOrigin} -> ${fresh.centroidsOrigin}) and " +
            "the batch's cell assignments are against the old " +
            "centroids — re-assign against the new version and " +
            "re-ingest")
      fresh
    }
  }

  /** Manifest-then-pointer commit shared by full and delta publishes:
    * the manifest is written LAST inside the version, the pointer flip
    * is tmp + ATOMIC_MOVE — a crash before the move leaves the old
    * pointer; after it, the new version is complete. */
  private def commit(indexDir: String, version: String, k: Int,
      nCents: Long, nPosts: Long, centroidsDir: String,
      postingsDirs: Seq[String], centroidsOrigin: String): Unit = {
    val dirsJson = postingsDirs.map(d => s""""$d"""").mkString("[", ",", "]")
    val manifest =
      s"""{"k":$k,"centroids":$nCents,"postings":$nPosts,""" +
        s""""centroids_dir":"$centroidsDir",""" +
        s""""centroids_origin":"$centroidsOrigin",""" +
        s""""postings_dirs":$dirsJson}"""
    // the manifest gets the SAME tmp + ATOMIC_MOVE discipline as the
    // pointer: a torn plain write could otherwise leave a file that
    // parses partially — and a half-parseable manifest is worse than a
    // missing one (load would serve a wrong subset instead of refusing)
    val vdir = Paths.get(s"$indexDir/$version")
    val mTmp = vdir.resolve("._manifest.json.tmp")
    Files.write(mTmp, manifest.getBytes(StandardCharsets.UTF_8))
    Files.move(mTmp, vdir.resolve("_manifest.json"),
      StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    val tmp = Paths.get(indexDir, s"._current.$version.tmp")
    Files.write(tmp, version.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, pointerPath(indexDir),
      StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def manifestField(json: String, field: String): Option[Long] =
    s""""$field"\\s*:\\s*(\\d+)""".r
      .findFirstMatchIn(json).map(_.group(1).toLong)

  /** A single dir-reference string field. Dir names are this object's
    * own (`v<N>/centroids` shapes) — no escaping to undo. */
  private def manifestDir(json: String, field: String): Option[String] =
    (s""""$field"\\s*:\\s*"([^"]+)"""").r
      .findFirstMatchIn(json).map(_.group(1))

  /** The dir-reference list field. */
  private def manifestDirs(json: String, field: String)
      : Option[Seq[String]] =
    (s""""$field"\\s*:\\s*\\[([^\\]]*)\\]""").r
      .findFirstMatchIn(json).map(m =>
        "\"([^\"]+)\"".r.findAllMatchIn(m.group(1)).map(_.group(1)).toSeq)

  /** A fully-parsed, fully-validated manifest. There is ONE validity
    * rule — every field present (commit always writes them all), dirs
    * non-empty — shared by publishDelta, load, and vacuum; a manifest
    * failing ANY field is damage, and the strict-or-refuse discipline
    * covers counts as well as dirs (a defaulted count would commit a
    * version whose own integrity check then refuses to load). */
  /** `centroidsOrigin` is quantizer LINEAGE, not a data reference: the
    * centroids dir of the full publish whose VALUES this version's
    * cell assignments are against, carried verbatim through deltas AND
    * through [[compact]] (whose rewrite copies the centroids
    * bit-for-bit into a new dir). [[rebaseForCommit]] compares origins
    * — a compaction landing under an in-flight delta must not read as
    * a quantizer change. Vacuum does NOT retain the origin dir: load
    * never reads it (compact is self-contained), only the string is
    * compared. Absent in pre-lineage manifests → defaults to the
    * version's own centroids dir (no recorded lineage = only an
    * equal-dir chain matches, the old conservative behavior). */
  private[operators] final case class Manifest(k: Int, centroids: Long,
      postings: Long, centroidsDir: String, postingsDirs: Seq[String],
      centroidsOrigin: String)

  private def parseManifest(json: String): Option[Manifest] =
    for {
      k <- manifestField(json, "k")
      c <- manifestField(json, "centroids")
      p <- manifestField(json, "postings")
      cd <- manifestDir(json, "centroids_dir")
      pd <- manifestDirs(json, "postings_dirs").filter(_.nonEmpty)
    } yield Manifest(k.toInt, c, p, cd, pd,
      manifestDir(json, "centroids_origin").getOrElse(cd))

  private def readManifest(indexDir: String, version: String): String = {
    val mPath = Paths.get(s"$indexDir/$version", "_manifest.json")
    require(Files.exists(mPath),
      s"ANN index $indexDir/$version has no manifest — the pointer names " +
        "an incomplete build; republish")
    new String(Files.readAllBytes(mPath), StandardCharsets.UTF_8)
  }

  /** The version's manifest, parsed strictly; missing file is a loud
    * IllegalArgumentException (incomplete build), a present-but-invalid
    * file a loud IllegalStateException naming the content. */
  private def requireManifest(indexDir: String,
      version: String): Manifest = {
    val json = readManifest(indexDir, version)
    parseManifest(json).getOrElse(throw new IllegalStateException(
      s"ANN index manifest at $indexDir/$version is malformed: $json — " +
        "refuse to guess what the version reads; republish"))
  }

  /** Best-effort parsed manifest: None for missing OR invalid — the
    * shape vacuum classifies versions with. */
  private def tryManifest(indexDir: String,
      version: String): Option[Manifest] =
    try parseManifest(readManifest(indexDir, version))
    catch { case scala.util.control.NonFatal(_) => None }

  /** Load the committed version. Fails loudly when no pointer exists,
    * when the pointed-at version lacks its manifest (a crashed build the
    * pointer should never name), or when the centroid count on disk
    * disagrees with the manifest. Postings may span several referenced
    * dirs (delta chain) — one scan per root, unioned, so cell partition
    * pruning applies per root. The dir-reference fields are REQUIRED:
    * a manifest missing them is damage, not a dialect. */
  def load(spark: SparkSession, indexDir: String): Handle = {
    registerRoot(indexDir)
    var attempt = 0
    while (true) {
      val version = currentVersion(indexDir).getOrElse(throw
        new IllegalStateException(
          s"no committed ANN index at $indexDir (missing/invalid " +
            "_current pointer): publish one first"))
      // drop the read lease (and freshen the version dir's mtime —
      // vacuum's in-flight age gate reads the tree mtime immediately
      // before each delete, so the touch protects this load even from
      // a vacuum that snapshotted the lease files before the lease
      // landed) BEFORE the first manifest/parquet read: writing the
      // lease after the reads left the whole read window exposed to a
      // concurrent republish + vacuum reclaiming this version.
      // Best-effort — a read-only mount must not fail the load (such a
      // store can't be vacuumed from here either).
      try Files.setLastModifiedTime(Paths.get(indexDir, version),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis()))
      catch { case scala.util.control.NonFatal(_) => () }
      val lease = Paths.get(indexDir,
        s"$LeasePrefix${java.util.UUID.randomUUID()}")
      val leased =
        try { Files.write(lease, version.getBytes(StandardCharsets.UTF_8))
          true }
        catch { case scala.util.control.NonFatal(_) => false }
      loadFence(indexDir)
      try {
        // every field REQUIRED, never defaulted: a fallback could not
        // tell a legacy manifest from a damaged one, and serving a
        // guessed subset of a delta chain is silent wrong answers
        val m = requireManifest(indexDir, version)
        // freshen EVERY chain member the manifest references, not just
        // the pointer version: a vacuum whose lease snapshot predates
        // our lease keeps the pointer version via its freshened mtime
        // but would reclaim an old-mtime delta BASE (v1 of a v2 chain)
        // out from under this handle's lazy postings union — the
        // manifest flattens the full dir list, so one hop reaches all
        val chainRoots = (m.centroidsDir +: m.postingsDirs)
          .map(_.takeWhile(_ != '/')).distinct.filterNot(_ == version)
        chainRoots.foreach { v =>
          try Files.setLastModifiedTime(Paths.get(indexDir, v),
            java.nio.file.attribute.FileTime.fromMillis(
              System.currentTimeMillis()))
          catch { case scala.util.control.NonFatal(_) => () }
        }
        val centroids = spark.read.parquet(s"$indexDir/${m.centroidsDir}")
        val actual = centroids.count()
        require(m.centroids == actual,
          s"ANN index $indexDir/$version: manifest records " +
            s"${m.centroids} centroids, disk has $actual — corrupt " +
            "version; republish")
        // one read PER ROOT, unioned: a single multi-path read of
        // several partitioned roots fails partition inference
        // (CONFLICTING_DIRECTORY_STRUCTURES) — per-root scans keep cell
        // pruning on each leg and the union is scan-metadata only
        val postings = m.postingsDirs.map { d =>
          spark.read.parquet(s"$indexDir/$d")
            .withColumn("cell", col("cell").cast("long"))
        }.reduce(_.unionByName(_))
        return Handle(version, m.k, centroids, postings,
          if (leased) Some(lease) else None)
      } catch { case scala.util.control.NonFatal(e) =>
        if (leased)
          try Files.deleteIfExists(lease)
          catch { case scala.util.control.NonFatal(_) => () }
        // a read failure with the pointer MOVED since we resolved it is
        // the reclaim race (a vacuum that listed leases before ours
        // landed deleted the old version out from under us) — retry
        // against the new pointer; an unchanged pointer is genuine
        // damage (the current version is never vacuumed) — rethrow
        attempt += 1
        if (attempt >= 5 ||
          currentVersion(indexDir).contains(version)) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Test seam: invoked after [[load]] drops its read lease, before the
    * first manifest read — lets a spec interleave a republish + vacuum
    * at the exact reclaim-race seam deterministically. */
  @volatile private[operators] var loadFence: String => Unit = _ => ()

  /** Read leases younger than this protect the version they name from
    * [[vacuum]]: a reader that loaded a `Handle` before several
    * republishes would otherwise have its postings dirs reclaimed
    * mid-probe (the orphan age gate protects in-flight BUILDS, not
    * in-flight READS of old committed history). A lease, not a lock:
    * a probe outliving the window remains exposed — size this knob (or
    * `keep`) to the longest reader lifetime, or have long-lived
    * readers re-[[load]] periodically (each load drops a fresh lease). */
  private[operators] val ReadLeaseMillis: Long = 60L * 60 * 1000

  private val LeasePrefix = "_reading-"

  /** Orphan (manifest-less) dirs younger than this survive vacuum: a
    * cross-process vacuum racing another driver's IN-FLIGHT build would
    * otherwise classify its half-written version dir as debris and
    * delete it mid-write (the per-dir publish lock only serializes
    * within one JVM). Override with -Dgraft.annindex.orphanAgeMs. */
  private[operators] def OrphanMinAgeMillis: Long =
    sys.props.get("graft.annindex.orphanAgeMs").flatMap(_.toLongOption)
      .getOrElse(60L * 60 * 1000)

  /** True when ANY entry under `root` (the root directory itself
    * included) was modified after `cutoff` — [[vacuum]]'s freshness
    * signal. Part-file writes in subdirectories never refresh the root
    * directory's own mtime, so the whole tree is read, SHORT-CIRCUITING
    * on the first fresh entry. Any unreadable entry or traversal error
    * reads as FRESH: an uninspectable dir must never become
    * reclaimable by default. */
  private[operators] def anyMtimeAfter(root: Path, cutoff: Long): Boolean =
    try {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(root)
      try walk.iterator().asScala.exists { p =>
        try Files.getLastModifiedTime(p).toMillis > cutoff
        catch { case scala.util.control.NonFatal(_) => true }
      }
      finally walk.close()
    } catch { case scala.util.control.NonFatal(_) => true }

  /** Drop version dirs that are not retained. Retained = the current
    * version, the `keep` most recent COMMITTED predecessors (dirs
    * carrying a manifest below the pointer — the rollback targets), and
    * every version whose dirs a retained manifest REFERENCES (a delta
    * chain's base data must outlive any manifest that reads it — the
    * UpsertSink carry-forward rule). Everything else — orphans from
    * crashed builds, committed history outside the keep window — is
    * reclaimed once STALE: a non-kept dir with any tree mtime inside
    * [[OrphanMinAgeMillis]] may be another process's build in flight
    * (manifest-less through its whole data write; manifest-complete
    * but un-pointed in its final commit window — on EITHER side of the
    * pointer, since a slow build can be overtaken by a faster publish
    * minting a higher number), so the age gate applies uniformly, an
    * unreadable mtime counting as fresh. Counting committed
    * versions, not version NUMBERS, matters under gapped numbering:
    * v1,v2 committed + v3 orphaned + v4 committed must keep v2 (the
    * only rollback target) under keep=1, not retain the useless v3
    * while deleting v2. Versions named by a FRESH read lease
    * (`_reading-*` younger than [[ReadLeaseMillis]], dropped by
    * [[load]]) join the retained set — a long probe over
    * since-republished history must not have its postings reclaimed
    * mid-read; stale lease files are deleted as housekeeping. Never
    * touches the current version or the pointer. `now` is injectable
    * for tests. */
  def vacuum(indexDir: String, keep: Int = 1,
      now: Long = System.currentTimeMillis()): Unit =
    lockFor(indexDir).synchronized {
      registerRoot(indexDir)
      val currentNum = currentVersion(indexDir).flatMap(v =>
        VersionName.findFirstMatchIn(v).map(_.group(1).toLong))
      val d = Paths.get(indexDir)
      if (Files.exists(d) && currentNum.isDefined) {
        // ONE directory listing feeds both classifications below —
        // version dirs and lease files — a second Files.list of the
        // same dir doubles the per-vacuum scan I/O for nothing
        // (describe() uses the same single-listing shape)
        val s = Files.list(d)
        val entries = try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.toSeq
        } finally s.close()
        val versions = entries.flatMap { p =>
          VersionName.findFirstMatchIn(p.getFileName.toString)
            .map(m => m.group(1).toLong -> p)
        }
        // ONE parse per version (shared strict rule): "committed"
        // requires a fully-parseable manifest, so a damaged one
        // (hand-edited, pre-atomic-write crash) can't consume a keep
        // slot and evict the genuine rollback target
        val parsed: Map[Long, Option[Manifest]] =
          versions.map { case (n, _) =>
            n -> tryManifest(indexDir, s"v$n")
          }.toMap
        val committedBelow = versions.collect {
          case (n, _) if n < currentNum.get && parsed(n).isDefined => n
        }.sorted.takeRight(math.max(keep, 0)).toSet
        // fresh read leases pin the version they name (and, through
        // the retained-manifest reference walk below, its whole
        // chain); stale ones are crash/forgotten-handle residue —
        // deleted here so they can't accumulate. A lease naming a
        // version no longer on disk is ignored (already reclaimed
        // before this lease existed, or junk).
        val leaseCutoff = now - ReadLeaseMillis
        val onDisk = versions.map(_._1).toSet
        val leaseFiles = entries.filter(
          _.getFileName.toString.startsWith(LeasePrefix))
        val leased = leaseFiles.flatMap { p =>
          val fresh =
            try Files.getLastModifiedTime(p).toMillis >= leaseCutoff
            catch { case _: java.io.IOException => true } // vanished/unreadable: fresh
          if (!fresh) {
            try Files.deleteIfExists(p)
            catch { case scala.util.control.NonFatal(_) => () }
            None
          } else
            try new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
              .trim match {
                case VersionName(n) => Some(n.toLong).filter(onDisk)
                case _ => None // torn/junk content: ignore until stale
              }
            catch { case scala.util.control.NonFatal(_) => None }
        }.toSet
        val retained = committedBelow + currentNum.get ++ leased
        // a RETAINED version (kept history OR fresh-leased) with an
        // unparseable manifest means its reference list is unknowable —
        // deleting anything could destroy data its real chain reads
        // (and make hand-repairing the manifest, the natural recovery,
        // point at deleted data). For a leased version the damage is
        // live: load() parsed that manifest when it dropped the lease.
        // Abort the whole vacuum; reclaim nothing until it's repaired
        // or republished over.
        if (retained.forall(n => parsed.getOrElse(n, None).isDefined)) {
          // one hop is complete: every manifest flattens its full dir
          // list at publish, so a retained manifest names every
          // version it reads directly
          val referenced = retained.flatMap { n =>
            val m = parsed(n).get
            (m.centroidsDir +: m.postingsDirs)
              .flatMap(dir => VersionName.findFirstMatchIn(
                dir.takeWhile(_ != '/')).map(_.group(1).toLong))
          }
          val keepSet = retained ++ referenced
          val cutoff = now - OrphanMinAgeMillis
          versions.foreach { case (n, p) =>
            if (!keepSet.contains(n)) {
              // EVERY non-kept dir with recent tree mtime may be
              // another process's build in flight: manifest-less while
              // its data writes, manifest-complete but un-pointed in
              // its final commit window — and that window is not even
              // confined above the pointer (a slow build minting v5 can
              // be OVERTAKEN by a faster v6 publish, leaving v5
              // manifest-complete BELOW the pointer seconds before its
              // own flip). No pointer-order shortcut is sound, so the
              // age gate applies uniformly; the cost is only that
              // committed history outside the keep window survives one
              // extra [[OrphanMinAgeMillis]].
              val maybeInFlight = anyMtimeAfter(p, cutoff)
              if (!maybeInFlight) deleteTree(p)
            }
          }
        }
      }
    }

  /** Rewrite the CURRENT delta chain as one self-contained full version
    * through the normal publish/commit machinery, and return the new
    * version name. A long-lived ingest chain accumulates one postings
    * root per delta — load unions one scan per root, so a year of
    * hourly deltas is thousands of scan legs of small files; compaction
    * restores the single-root layout (and single-file-size economics)
    * without changing what a probe sees: the loaded frames round-trip
    * bit-for-bit through publish, exactly the property s18's oracle
    * certifies. A single-root current version is already compact —
    * committed no-op returning it. Old chain versions become ordinary
    * history: the next [[vacuum]] reclaims them by the usual keep
    * rules (the new manifest references only its own version). */
  def compact(spark: SparkSession, indexDir: String): String =
    lockFor(indexDir).synchronized {
      registerRoot(indexDir)
      val version = currentVersion(indexDir).getOrElse(throw
        new IllegalStateException(
          s"no committed ANN index at $indexDir to compact: " +
            "publish a full version first"))
      val m = requireManifest(indexDir, version)
      if (m.postingsDirs.size == 1) version
      else {
        val h = load(spark, indexDir)
        // the internal load dropped a read lease; the rewrite is done
        // reading the chain once publish returns, so release it rather
        // than leave one lease file per compaction to age out. The
        // chain's quantizer ORIGIN is carried through: the rewrite
        // copies the centroid values bit-for-bit, so an in-flight
        // delta rebasing across this compaction must not read it as a
        // re-train (see rebaseForCommit)
        try publish(h.centroids, h.postings, indexDir, m.k,
          centroidsOrigin = Some(m.centroidsOrigin))
        finally h.release()
      }
    }

  private def deleteTree(p: Path): Unit =
    graft.FsTree.delete(p, bestEffort = true)

  /** One version's operator-facing summary: `committed` = carries a
    * fully-parseable manifest; the manifest fields are surfaced flat
    * (None for orphans) with `chain` = how many postings roots a load
    * of this version would union — the number compaction collapses. */
  final case class VersionInfo(name: String, committed: Boolean,
      k: Option[Int], centroids: Option[Long], postings: Option[Long],
      chain: Option[Int])

  /** The whole store's operator-facing summary, served by the
    * management server's `GET /v1/ann`. */
  final case class IndexInfo(current: Option[String],
      versions: Seq[VersionInfo], freshLeases: Int, staleLeases: Int)

  /** Inspect the store without loading it: pointer, per-version
    * manifest summaries (orphans included — they are what vacuum
    * reclaims), and read-lease counts split fresh/stale by
    * [[ReadLeaseMillis]]. Read-only: never parses leases' contents,
    * never deletes, never takes the dir lock. */
  def describe(indexDir: String,
      now: Long = System.currentTimeMillis()): IndexInfo = {
    val d = Paths.get(indexDir)
    if (!Files.exists(d)) IndexInfo(None, Nil, 0, 0)
    else {
      val s = Files.list(d)
      val names = try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString).toSeq
      } finally s.close()
      val versions = names.flatMap(n =>
        VersionName.findFirstMatchIn(n).map(m => m.group(1).toLong -> n))
        .sortBy(_._1).map { case (_, v) =>
          tryManifest(indexDir, v) match {
            case Some(m) => VersionInfo(v, committed = true, Some(m.k),
              Some(m.centroids), Some(m.postings),
              Some(m.postingsDirs.size))
            case None => VersionInfo(v, committed = false,
              None, None, None, None)
          }
        }
      val leaseCutoff = now - ReadLeaseMillis
      val (fresh, stale) = names.filter(_.startsWith(LeasePrefix))
        .partition { n =>
          try Files.getLastModifiedTime(d.resolve(n)).toMillis >=
            leaseCutoff
          catch { case _: java.io.IOException => true }
        }
      IndexInfo(currentVersion(indexDir), versions,
        fresh.size, stale.size)
    }
  }
}
