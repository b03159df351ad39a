package graft.streaming

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Materialized latest-state view maintained from `foreachBatch` — the
  * upsert ("MERGE INTO current-state table") sink the topic-append
  * transports don't provide: a streaming route whose serving output is
  * "current value per key", not a log.
  *
  * Semantics per micro-batch: within the batch, the row with the highest
  * (orderCol, then any deterministic tiebreak already in orderCol) wins per
  * key; the batch winners are merged into the standing state (batch beats
  * state at equal orderCol — last write wins); the merged state replaces
  * the view atomically (write a new version, then flip a pointer file —
  * readers resolve the pointer, so a crash mid-write never exposes a
  * half-written view).
  *
  * Storage layout — hash-bucketed, partition-pruned merge:
  * {{{
  *   baseDir/CURRENT            "ver,qid1,bid1[,qid2,bid2...]" — atomic
  *                              pointer: current version + EVERY writer's
  *                              replay high-water mark (first pair = most
  *                              recent writer)
  *   baseDir/manifest/<ver>     header "queryId,batchId,buckets";
  *                              then one "bucket<TAB>relpath" line each
  *   baseDir/data/<ver>/__bucket=<b>/   parquet for buckets REWRITTEN at <ver>
  * }}}
  * State is split into `buckets` hash buckets by `pmod(hash(keyCol), B)`.
  * A micro-batch only rewrites the buckets its keys land in; every other
  * bucket is carried forward BY REFERENCE — the new manifest points at the
  * previous version's bucket directory, whose files are never touched. At
  * 100 TB this makes per-batch merge cost ∝ (batch keys' buckets), not
  * ∝ total state, which is the same pruning a MERGE INTO on a partitioned
  * table relies on; the manifest-plus-pointer discipline is what
  * Delta/Iceberg commit logs do in library form.
  *
  * Versions are numbered by a monotonically increasing counter recorded in
  * the pointer — NOT by batchId — so a second query over the same view (or
  * a checkpoint reset that restarts batch numbering at 0) can never collide
  * with an earlier query's retained versions. `asOf` resolves through the
  * manifest headers, keyed on (queryId, batchId).
  *
  * Replay-idempotence: the pointer records the last applied
  * (queryId, batchId); a replayed micro-batch (same query, same id) is
  * skipped, so Structured Streaming's at-least-once `foreachBatch` contract
  * yields an exactly-once VIEW, while a DIFFERENT queryId merges normally.
  * Single-writer-per-view is the concurrency contract (the same contract a
  * streaming query's checkpoint dir implies).
  *
  * All pointer I/O goes through the Hadoop filesystem of `baseDir`'s
  * scheme, so the same code runs against file:, hdfs:, or s3a: state dirs
  * (the parquet versions already do). The pointer flip uses
  * FileContext.rename(OVERWRITE) — atomic on HDFS and local; on object
  * stores the rename is copy+delete of a ~40-byte file, and a crash in the
  * window leaves the OLD pointer intact (never a half-written one, since
  * the temp is fully written first).
  *
  * Reference anchor: ziggurat has no state sink at all (handlers push to
  * downstream topics/queues, SURVEY §2.2) — this is north-star extension
  * surface.
  */
final class UpsertSink(spark: SparkSession, baseDir: String,
    keyCol: String, orderCol: String, val queryId: String = "default",
    buckets: Int = 16) {

  require(buckets > 0, "buckets must be positive")
  require(!queryId.exists(c => c == ',' || c == '\n' || c == '\r'),
    s"queryId '$queryId' must not contain ',' or newlines (pointer format)")

  private val ptrPath = new Path(s"$baseDir/CURRENT")
  private def hadoopConf = spark.sessionState.newHadoopConf()
  private def fs = ptrPath.getFileSystem(hadoopConf)

  /** Committed-state pointer: the current version plus EVERY writer's
    * high-water batchId. Carrying all queries' marks (not just the last
    * writer's) is what makes the replay guard sound under the multi-query
    * pattern the cross-query tests pin — with only the last writer
    * recorded, q1's replayed batch arriving after q2's commit would
    * re-merge and could revert a key at equal orderCol. */
  private case class Meta(ver: Long, marks: Map[String, Long])

  /** Parse the pointer `<ver>,<qid1>,<bid1>[,<qid2>,<bid2>...]` (first
    * pair is the most recent writer). A pointer that exists but does not
    * parse is damage and fails loudly: read as "no state", the next
    * `apply` would commit version 0 holding only its own batch, silently
    * dropping the view and every replay mark. */
  private def currentMeta(): Option[Meta] = {
    val f = fs
    if (!f.exists(ptrPath)) None
    else {
      val in = f.open(ptrPath)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
      val arr = s.split(",")
      def damaged = new IllegalStateException(
        s"unparseable UpsertSink pointer $ptrPath: '$s'")
      if (arr.length < 3 || arr.length % 2 == 0) throw damaged
      try Some(Meta(arr.head.toLong, arr.tail.grouped(2)
        .map { case Array(q, b) => q -> b.toLong }.toMap))
      catch { case _: NumberFormatException => throw damaged }
    }
  }

  /** A committed version's manifest: (queryId, batchId, buckets written
    * with, bucket → path-relative-to-baseDir). */
  private case class Manifest(qid: String, batchId: Long, nBuckets: Int,
      dirs: Map[Int, String])

  private def manifestPath(ver: Long) = new Path(s"$baseDir/manifest/$ver")

  private def readManifest(ver: Long): Option[Manifest] = {
    val f = fs
    val p = manifestPath(ver)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().toList
      finally in.close()
      val Array(qid, bid, nb) = lines.head.split(",")
      val dirs = lines.tail.filter(_.nonEmpty).map { l =>
        val Array(b, d) = l.split("\t")
        b.toInt -> d
      }.toMap
      Some(Manifest(qid, bid.toLong, nb.toInt, dirs))
    }
  }

  private def writeManifest(ver: Long, m: Manifest): Unit = {
    val f = fs
    val body = (s"${m.qid},${m.batchId},${m.nBuckets}" +:
      m.dirs.toSeq.sortBy(_._1).map { case (b, d) => s"$b\t$d" })
      .mkString("\n")
    val out = f.create(manifestPath(ver), true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  /** One lease FILE per recent read window: `_reading/<uuid>` lists
    * the bucket dirs the handed-out frame references (one rel path per
    * line). Lease files — not directory mtimes — because a file's
    * mtime is real on every store (`file:`, `hdfs:`, `s3a:`) while
    * directory `setTimes` is a silent no-op on object stores and their
    * dir mtimes are synthetic, which would make an mtime-based shield
    * quietly inert exactly where vacuum-under-reader is most
    * dangerous. Best-effort (a read-only mount can't be vacuumed from
    * here either) and memoized per sink instance, so a serving loop
    * calling current() every micro-batch writes one lease per
    * half-window, not one per call. */
  /** Memo keyed by DIR-SET (a loop alternating current() and asOf
    * would defeat a single slot and write one lease per call); entries
    * refresh at half the window, so a handed-out frame is protected
    * for AT LEAST ReaderWindowMillis/2. Stale entries are pruned
    * opportunistically (the key space is bounded by the distinct
    * dir-sets read within one window). */
  private val leaseMemo =
    new java.util.concurrent.ConcurrentHashMap[Set[String], java.lang.Long]()
  /** Returns the lease path ONLY when THIS call wrote one — the
    * caller's failure cleanup must never delete a lease a concurrent
    * reader of the same dirs wrote (a shared last-written slot did
    * exactly that). */
  private def dropReadLease(m: Manifest): Option[Path] = {
    val dirs = m.dirs.values.toSet
    val nowMs = System.currentTimeMillis()
    val half = UpsertSink.ReaderWindowMillis / 2
    val prev = Option(leaseMemo.get(dirs)).map(_.longValue)
    if (prev.exists(nowMs - _ <= half)) None
    else
      try {
        val p = new Path(
          s"$baseDir/_reading/${java.util.UUID.randomUUID()}")
        val out = fs.create(p, true)
        try out.write(dirs.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
        finally out.close()
        leaseMemo.put(dirs, nowMs)
        // prune dead memo entries so alternating dir-sets stay bounded
        val it = leaseMemo.entrySet().iterator()
        while (it.hasNext) {
          if (nowMs - it.next().getValue.longValue >
            UpsertSink.ReaderWindowMillis) it.remove()
        }
        Some(p)
      } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Drop the lease a failed read attempt wrote (best-effort debris
    * control — a lease left behind ages out on its own) and clear its
    * memo slot so the retry writes a fresh one. */
  private def retractLease(dirs: Set[String], p: Option[Path]): Unit = {
    leaseMemo.remove(dirs)
    p.foreach { path =>
      try fs.delete(path, false)
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Like [[readDirs]] but also reports the lease path THIS call
    * wrote (None when the memo reused one) — current()'s failure
    * cleanup retracts only its own lease. */
  private def readDirsLeased(m: Manifest)
      : (Option[DataFrame], Option[Path]) =
    if (m.dirs.isEmpty) (None, None)
    else {
      // lease BEFORE handing out the lazy frame: vacuum retains every
      // dir a fresh lease names, so a recent current()/asOf frame
      // keeps its files readable across later merges + vacuums — the
      // AnnIndex.load read-shielding discipline
      val wrote = dropReadLease(m)
      (Some(spark.read.parquet(m.dirs.values.toSeq.sorted
        .map(d => s"$baseDir/$d"): _*)), wrote)
    }

  private def readDirs(m: Manifest): Option[DataFrame] =
    readDirsLeased(m)._1

  /** The current materialized state, if any non-empty batch has
    * committed. A cold first read can race a concurrent merge + vacuum
    * (the lease lands only after the manifest resolve), in EITHER
    * shape — the manifest open throwing, or the manifest vanishing
    * before its exists probe so the resolve yields None: with a MOVED
    * pointer both retry against the new version; an unchanged pointer
    * is genuine damage (the current version is never vacuumed) and
    * rethrows / reports honestly. */
  def current(): Option[DataFrame] = {
    var attempt = 0
    while (true) {
      val meta = currentMeta()
      var m: Option[Manifest] = None
      var wrote: Option[Path] = None
      try {
        // the manifest resolve sits INSIDE the try: a vacuum deleting
        // the manifest between its exists probe and its open must hit
        // the retry below, not escape current() (the race this
        // method's contract promises to absorb)
        m = meta.flatMap(mt => readManifest(mt.ver))
        if (m.isEmpty && meta.nonEmpty &&
          currentMeta().map(_.ver) != meta.map(_.ver)) {
          // the vanished-manifest (None) leg of the same race: the
          // version was vacuumed under a moved pointer — retry rather
          // than transiently serving "no state" while state exists
          attempt += 1
          if (attempt >= 3) return None
        } else
          return m.flatMap { mf =>
            val (df, lp) = readDirsLeased(mf)
            wrote = lp
            df
          }
      } catch { case e if scala.util.control.NonFatal(e) =>
        // the failed attempt's lease names a reclaimed version's dirs:
        // retract it (AnnIndex.load's discipline) so it neither sits
        // as debris for a window nor memo-suppresses the retry's
        // lease. ONLY a lease this attempt wrote — deleting one a
        // concurrent same-dirs reader wrote would strip that reader's
        // protection.
        m.foreach(mf => retractLease(mf.dirs.values.toSet, wrote))
        attempt += 1
        if (attempt >= 3 ||
          currentMeta().map(_.ver) == meta.map(_.ver)) throw e
      }
    }
    None // unreachable
  }

  /** Last batchId applied BY THIS QUERY (its replay high-water mark). */
  def lastBatchId: Option[Long] =
    currentMeta().flatMap(_.marks.get(queryId))

  /** Bucket → path map of the current version (test/ops introspection:
    * untouched buckets keep the exact same path across commits). */
  def currentBucketDirs(): Map[Int, String] =
    currentMeta().flatMap(m => readManifest(m.ver)).map(_.dirs)
      .getOrElse(Map.empty)

  /** Time travel: the materialized state as of `batchId` committed by
    * `forQuery` (this sink's queryId by default). Resolved through the
    * retained manifests, so it is (queryId, batchId)-keyed — two queries
    * that both committed a batch 0 never see each other's history. */
  def asOf(batchId: Long, forQuery: String = queryId): Option[DataFrame] = {
    val f = fs
    val mdir = new Path(s"$baseDir/manifest")
    if (!f.exists(mdir)) return None
    // only COMMITTED versions (≤ the pointer) are history: an orphaned
    // manifest from a crash between the version write and the pointer flip
    // must stay invisible to time travel, matching current()'s contract
    val ptrVer = currentMeta().map(_.ver).getOrElse(return None)
    // manifest reads during the walk tolerate the same vacuum race as
    // the readDirs leg below: a manifest deleted between the listing
    // (or readManifest's own exists probe) and its open is the
    // documented dropped state, skipped — a manifest still on disk
    // after the failure is real damage and rethrows
    def walkManifest(v: Long): Option[(Long, Manifest)] =
      try readManifest(v).map(v -> _)
      catch { case e if scala.util.control.NonFatal(e) =>
        if (f.exists(manifestPath(v))) throw e else None
      }
    f.listStatus(mdir).toSeq
      .flatMap(st => scala.util.Try(st.getPath.getName.toLong).toOption)
      .filter(_ <= ptrVer)
      .sorted.reverse
      .iterator // lazy: find stops at the first hit — the strict walk
      .flatMap(walkManifest) // opened EVERY retained manifest first
      .find { case (_, m) => m.qid == forQuery && m.batchId == batchId }
      .flatMap { case (v, m) =>
        try readDirs(m)
        catch { case e if scala.util.control.NonFatal(e) =>
          // raced a vacuum that dropped this version between our
          // manifest read and the lease landing: a now-GONE manifest
          // IS the documented dropped state — report None, not a
          // crash; a manifest still present means real damage
          if (f.exists(manifestPath(v))) throw e else None
        }
      }
  }

  /** Merge one micro-batch into the view. Returns false when the batch was
    * already applied BY THIS QUERY (replay) and was skipped. */
  def apply(batch: DataFrame, batchId: Long): Boolean = {
    val meta = currentMeta()
    if (meta.exists(_.marks.get(queryId).exists(batchId <= _)))
      return false
    val prev = meta.flatMap(m => readManifest(m.ver))
    val ver = meta.map(_.ver + 1).getOrElse(0L)

    val batchW = latestPerKey(batch)
      .withColumn("__bucket", pmod(hash(col(keyCol)), lit(buckets)))
      .persist()
    try {
      // ≤ `buckets` rows: the prune decision is driver-side by design; the
      // persist keeps the touched-collect from recomputing the batch dedup
      // a second time inside the bucket write
      val touched = batchW.select("__bucket").distinct()
        .collect().map(_.getInt(0)).toSet

      val dirs: Map[Int, String] = prev match {
        case Some(p) if p.nBuckets == buckets =>
          if (touched.isEmpty) p.dirs
          else {
            val statePaths = p.dirs.filter { case (b, _) => touched(b) }
              .values.toSeq.sorted.map(d => s"$baseDir/$d")
            val merged =
              if (statePaths.isEmpty) batchW
              else latestPerKey(spark.read.parquet(statePaths: _*)
                  .withColumn("__bucket",
                    pmod(hash(col(keyCol)), lit(buckets)))
                  .withColumn("__src", lit(0))
                  .unionByName(batchW.withColumn("__src", lit(1))))
                .drop("__src")
            writeBuckets(merged, ver)
            p.dirs.filterNot { case (b, _) => touched(b) } ++
              touched.map(b => b -> s"data/$ver/__bucket=$b")
          }
        case Some(p) =>
          // bucket count changed: full re-bucketing
          // rewrite; persisted so the touched-collect and the write share
          // the one state scan + window
          val all = readDirs(p).map(st => latestPerKey(
              st.withColumn("__bucket", pmod(hash(col(keyCol)), lit(buckets)))
                .withColumn("__src", lit(0))
                .unionByName(batchW.withColumn("__src", lit(1))))
              .drop("__src"))
            .getOrElse(batchW)
            .persist()
          try {
            val allTouched = all.select("__bucket").distinct()
              .collect().map(_.getInt(0)).toSet
            writeBuckets(all, ver)
            allTouched.map(b => b -> s"data/$ver/__bucket=$b").toMap
          } finally all.unpersist()
        case None =>
          if (touched.nonEmpty) writeBuckets(batchW, ver)
          touched.map(b => b -> s"data/$ver/__bucket=$b").toMap
      }

      writeManifest(ver, Manifest(queryId, batchId, buckets, dirs))
      val marks = meta.map(_.marks).getOrElse(Map.empty) + (queryId -> batchId)
      val others = (marks - queryId).toSeq.sortBy(_._1)
        .map { case (q, b) => s",$q,$b" }.mkString
      val f = fs
      val tmp = new Path(s"$baseDir/CURRENT.tmp")
      val out = f.create(tmp, true)
      try out.write(s"$ver,$queryId,$batchId$others".getBytes("UTF-8"))
      finally out.close()
      FileContext.getFileContext(ptrPath.toUri, hadoopConf)
        .rename(tmp, ptrPath, Options.Rename.OVERWRITE)
      true
    } finally batchW.unpersist()
  }

  /** Drop all but the newest `keepLast` COMMITTED versions. Manifests of
    * dropped versions are deleted (their `asOf` returns None afterwards);
    * bucket data directories are deleted only when NO retained manifest still
    * references them — a retained version that carries an old bucket forward
    * keeps that bucket's files alive — AND no FRESH read lease (`_reading`
    * files younger than [[UpsertSink.ReaderWindowMillis]], dropped by
    * `current()`/`asOf` — see `readDirs`) names them: a recent reader's lazy
    * frame keeps its files through the vacuum and the unreferenced data is
    * reclaimed by a LATER vacuum once the lease ages. The memo refreshes
    * leases at HALF the window, so a handed-out frame is guaranteed
    * protection for at least window/2 (size `keepLast` for longer readers); a
    * frame held past that remains exposed (a lease, not a lock). Leases are
    * re-read immediately before the deletes (a lease landing after the first
    * snapshot still protects), an unreadable fresh lease defers the whole
    * sweep, and stale lease files are deleted as housekeeping. Aged
    * job-scratch (a crashed write's `_temporary`, judged by the newest FILE
    * mtime in its tree) is reclaimed; live jobs' scratch is never touched.
    * The pointer's version is always retained and orphaned manifests ABOVE
    * the pointer (a crashed half-commit) are swept as garbage, never counted
    * against `keepLast` — counting them would let vacuum(1) delete the live
    * version. `current()` and every retained `asOf` are unaffected. `now`
    * is injectable for tests. */
  def vacuum(keepLast: Int,
      now: Long = System.currentTimeMillis()): Unit = {
    require(keepLast >= 1, "must keep at least the current version")
    val f = fs
    val mdir = new Path(s"$baseDir/manifest")
    if (!f.exists(mdir)) return
    val ptrVer = currentMeta().map(_.ver).getOrElse(return)
    val vers = f.listStatus(mdir).toSeq
      .flatMap(st => scala.util.Try(st.getPath.getName.toLong).toOption)
    val committed = vers.filter(_ <= ptrVer).sorted.reverse
    val keep = committed.take(keepLast)
    val drop = committed.drop(keepLast) ++ vers.filter(_ > ptrVer)
    val referenced = keep.flatMap(readManifest).flatMap(_.dirs.values).toSet
    drop.foreach(v => f.delete(manifestPath(v), false))
    // Lease reader shared by the pre-pass and the delete-time
    // re-check. None = a FRESH lease's content could not be read
    // (transient IO, torn mid-write read — leases are plain
    // create+write, not tmp+rename): DEFER the whole sweep rather
    // than reclaim under a possibly-active reader (fail-safe — the
    // old error path returned Nil and deleted, inverting the rule).
    // Some(set) = the dirs every fresh lease names; stale leases are
    // swept as housekeeping.
    val cutoff = now - UpsertSink.ReaderWindowMillis
    def readLeases(): Option[Set[String]] = {
      val ldir = new Path(s"$baseDir/_reading")
      if (!f.exists(ldir)) Some(Set.empty)
      else {
        var failed = false
        val dirs = f.listStatus(ldir).toSeq.flatMap { st =>
          if (st.getModificationTime < cutoff) {
            try f.delete(st.getPath, false)
            catch { case scala.util.control.NonFatal(_) => () }
            Nil
          } else
            try {
              val in = f.open(st.getPath)
              try scala.io.Source.fromInputStream(in, "UTF-8")
                .getLines().toList.filter(_.nonEmpty)
              finally in.close()
            } catch { case scala.util.control.NonFatal(_) =>
              failed = true; Nil }
        }
        if (failed) None else Some(dirs.toSet)
      }
    }
    // Any file inside `p` younger than the scratch age means a
    // possibly LIVE job (file mtimes are real on every store — the
    // dir's own mtime is synthetic on object stores). A FILE-LESS tree
    // counts as fresh/defer: a just-started job's _temporary holds
    // only directories for its first instants, and with no file there
    // is NO age evidence at all — deleting on none would fail that
    // job at commit (empty skeletons from true crashes are cosmetic
    // residue, accepted). An unreadable listing counts as fresh.
    val scratchCutoff = now - UpsertSink.ScratchAgeMillis
    def treeHasFreshFile(p: Path): Boolean =
      try {
        val it = f.listFiles(p, true)
        var sawFile = false
        var fresh = false
        while (!fresh && it.hasNext) {
          sawFile = true
          fresh = it.next().getModificationTime >= scratchCutoff
        }
        fresh || !sawFile
      } catch { case scala.util.control.NonFatal(_) => true }
    // the data sweep runs even with nothing to drop: dirs DEFERRED by
    // an earlier vacuum's fresh lease have no manifest left to drop,
    // and an early return here would strand them forever
    val ddir = new Path(s"$baseDir/data")
    readLeases() match {
      case None => () // defer the whole sweep this pass
      case Some(leased) if f.exists(ddir) =>
        val verDirs = f.listStatus(ddir).filter(_.isDirectory)
        val candidates =
          scala.collection.mutable.ArrayBuffer[(String, Path)]()
        verDirs.foreach { verDir =>
          val verName = verDir.getPath.getName
          f.listStatus(verDir.getPath).filter(_.isDirectory)
            .foreach { bDir =>
              val name = bDir.getPath.getName
              val rel = s"data/$verName/$name"
              if (name.startsWith("__bucket=")) {
                if (!referenced(rel) && !leased(rel))
                  candidates += rel -> bDir.getPath
              } else if (!treeHasFreshFile(bDir.getPath)) {
                // job-scratch (`_temporary`) of an IN-FLIGHT write
                // belongs to the committer — but a CRASHED write's
                // residue must eventually reclaim, or it leaks and
                // permanently blocks the version-dir cleanup below
                try f.delete(bDir.getPath, true)
                catch { case scala.util.control.NonFatal(_) => () }
              }
            }
        }
        // delete-time lease RE-CHECK: a reader's lease that landed
        // after the pre-pass snapshot (its frame resolved against
        // still-present dirs) must still protect its files — the
        // residual shrinks to the instant between this re-read and
        // the deletes (a lease, not a lock). A re-check failure
        // defers, same as above.
        if (candidates.nonEmpty) readLeases() match {
          case None => ()
          case Some(leased2) =>
            candidates.foreach { case (rel, p) =>
              if (!leased2(rel)) f.delete(p, true)
            }
        }
        // only marker files (_SUCCESS) left AND nothing fresh in the
        // tree → the whole version dir is dead. The freshness guard
        // keeps a write's just-created version dir (pre-_temporary
        // instants, or a live job's markers) out of the sweep.
        verDirs.foreach { verDir =>
          if (f.exists(verDir.getPath) &&
            f.listStatus(verDir.getPath).forall(!_.isDirectory) &&
            !treeHasFreshFile(verDir.getPath))
            f.delete(verDir.getPath, true)
        }
      case Some(_) => ()
    }
  }

  private def writeBuckets(df: DataFrame, ver: Long): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy("__bucket")
      .parquet(s"$baseDir/data/$ver")

  private def latestPerKey(df: DataFrame): DataFrame = {
    val ordCols =
      if (df.columns.contains("__src"))
        Seq(col(orderCol).desc, col("__src").desc)
      else Seq(col(orderCol).desc)
    val w = Window.partitionBy(col(keyCol)).orderBy(ordCols: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}

object UpsertSink {
  /** Unreferenced bucket dirs read within this window survive vacuum —
    * `current()`/`asOf` freshen the dirs of the frames they hand out,
    * so a recent reader keeps its files through a concurrent reclaim
    * (deferred to a later vacuum). A window, not a lock: a frame held
    * past it is exposed — size `keepLast` to the longest reader
    * lifetime. */
  private[streaming] val ReaderWindowMillis: Long = 60L * 60 * 1000

  /** A write job's scratch (`_temporary`) is crash residue only once
    * every file in its tree is older than this — separate from the
    * reader window, which bounds readers, not in-flight writes. */
  private[streaming] val ScratchAgeMillis: Long = 60L * 60 * 1000
}
