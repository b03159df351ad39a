package graft.operators

import graft.{QueryDef, Tables}
import graft.sources.Formats
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout operators (reference anchor: ziggurat delegates all
  * at-rest layout to Kafka topic/partition config — `doc/CONCEPTS.md` — so
  * this family is north-star surface: the levers a 100 TB lakehouse needs
  * beyond bucketing/partitioning, which live in [[graft.sources.Formats]]
  * with BucketingSpec/FormatsSpec pins).
  *
  * Both queries run a layout rewrite into a scratch dir and then answer an
  * aggregate over the REWRITTEN copy, oracle-checked against the original
  * table — layout must never change results, and the hash gate proves it.
  * The performance payoff (file-level locality, file-count reduction) is
  * pinned in FormatsSpec where file sets can be inspected directly.
  */
object LayoutOps {

  private def t(s: SparkSession, dir: String) = Tables(s, dir)

  /** Per-(prefix, sf-dir) FIXED scratch path, recreated (old contents
    * deleted) on each invocation, so steady state is ONE rewritten copy of
    * events per query, not one per execution. Single-writer per query, like
    * every scratch consumer here (Verify/Bench run queries sequentially); the
    * returned frame reads the files lazily, so deletion happens at the NEXT
    * invocation, never under a live reader of the current one. The path
    * carries the JVM's pid so two concurrent processes on one host (e.g.
    * parallel bench + verify runs) never share a scratch root — the
    * walk-and-delete must not yank files under the OTHER process's live lazy
    * reader; toHexString (not math.abs, which keeps Int.MinValue negative)
    * disambiguates the sf-dir hash. Pid-suffixed roots would re-accumulate
    * across RUNS (one copy per process instead of per invocation), so each
    * call also reaps sibling roots whose `-p<pid>` owner is no longer
    * alive — live processes' roots are never touched. */
  private val processTag = ProcessHandle.current().pid().toString

  private def deleteTree(root: java.nio.file.Path): Unit =
    graft.FsTree.delete(root)

  /** Roots must sit untouched this long before they are reap-eligible:
    * ProcessHandle.of(pid) only sees the CURRENT pid namespace, so a
    * sibling container sharing the tmpdir mount has LIVE roots whose
    * pids parse as dead here — liveness alone would delete them under
    * their lazy readers. "Untouched" is the NEWEST mtime anywhere in
    * the tree (not the root directory's, which part-file writes in
    * subdirectories never refresh), so an actively-WRITING sibling
    * invocation stays protected for as long as it produces output; an
    * actively-READING one is protected by the [[HeartbeatName]] file
    * its owning JVM's daemon re-touches every [[heartbeatPeriodMs]] —
    * together the gate only opens on a root whose owner has produced
    * no write, no read heartbeat, and no liveness signal for the full
    * window. This is a LEASE, not a lock: an owner whose entire JVM is
    * suspended past the window (SIGSTOP, cgroup freezer, VM pause) and
    * then resumed mid-deleteTree is still exposed — the staleness
    * check and the delete are not atomic, and no mtime-based protocol
    * can make them so; deployments that suspend JVMs over a shared
    * tmpdir must raise the window (or give each container its own
    * tmpdir, the actually-safe layout). One hour covers every test-SF
    * invocation by orders of magnitude while still reclaiming a
    * crashed run's scratch on the next run. */
  private[operators] val ReapMinAgeMillis: Long = 60L * 60 * 1000

  /** The reader-heartbeat file each live owner re-touches inside every
    * scratch root it created: lazy readers never refresh data-file
    * mtimes, so without it a sibling-NAMESPACE invocation (whose pid
    * this namespace cannot see as alive) reading past the age gate
    * would have its files reaped mid-read. Touch frequency is bounded
    * (once per [[heartbeatPeriodMs]], a single empty-file write per
    * root) and the daemon thread dies with the JVM — exactly when the
    * heartbeat SHOULD stop, letting the age gate reclaim the root. */
  private[operators] val HeartbeatName = ".graft-heartbeat"

  /** Once a minute: sixty beats per reap window. */
  private[operators] val heartbeatPeriodMs: Long = 60L * 1000

  private val heartbeatRoots =
    java.util.concurrent.ConcurrentHashMap
      .newKeySet[java.nio.file.Path]()

  /** Touch the heartbeat in every registered live root; a root that no
    * longer exists (superseded layout, external cleanup) is dropped so
    * the set stays bounded by the process's distinct (query, sf-dir)
    * scratch paths. Synchronized against [[scratch]]'s own
    * delete-and-recreate of a registered root: an unsynchronized touch
    * landing between deleteTree's file walk and its final root-dir
    * delete would make the delete fail DirectoryNotEmpty and the whole
    * query with it — the daemon beats once a minute, so the lock is
    * uncontended in practice and each touch is one empty write. */
  private[operators] def touchHeartbeats(): Unit =
    heartbeatRoots.synchronized {
      import scala.jdk.CollectionConverters._
      heartbeatRoots.asScala.foreach { root =>
        try {
          if (java.nio.file.Files.isDirectory(root))
            java.nio.file.Files.write(root.resolve(HeartbeatName),
              Array.empty[Byte])
          else heartbeatRoots.remove(root)
        } catch { case scala.util.control.NonFatal(_) => () }
      }
    }

  private lazy val heartbeatExec = {
    val ex = java.util.concurrent.Executors
      .newSingleThreadScheduledExecutor { r =>
        val t = new Thread(r, "graft-scratch-heartbeat")
        t.setDaemon(true); t
      }
    ex.scheduleWithFixedDelay(() => touchHeartbeats(),
      heartbeatPeriodMs, heartbeatPeriodMs,
      java.util.concurrent.TimeUnit.MILLISECONDS)
    ex
  }

  private[operators] def registerHeartbeat(root: java.nio.file.Path): Unit = {
    heartbeatRoots.add(root)
    heartbeatExec // start the daemon on first registration
    touchHeartbeats() // immediate first beat — don't wait a period
  }

  /** True when ANY entry under `root` (the root directory itself
    * included) was modified after `cutoff` — the reap gate's freshness
    * signal, SHORT-CIRCUITING on the first fresh entry: the gate never
    * needs the actual maximum, and a sibling's live root full of part
    * files would otherwise pay a full-tree stat on every scratch()
    * call. Any unreadable entry or traversal error reads as FRESH: an
    * uninspectable root must never become reap-eligible by default. */
  private[operators] def anyMtimeAfter(root: java.nio.file.Path,
      cutoff: Long): Boolean =
    try {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.exists { p =>
        try java.nio.file.Files.getLastModifiedTime(p).toMillis > cutoff
        catch { case scala.util.control.NonFatal(_) => true }
      }
      finally walk.close()
    } catch { case scala.util.control.NonFatal(_) => true }

  /** Best-effort reap of scratch roots left by EXITED processes: a root
    * whose `-p<pid>` suffix names a dead (or unparseable) pid has no
    * possible live reader IN THIS PID NAMESPACE; a root owned by a LIVE
    * pid is always skipped, and (cross-namespace guard) so is any root
    * with ANY entry — data file, subdirectory, or the owner-daemon's
    * [[HeartbeatName]] — modified within [[ReapMinAgeMillis]]; an
    * unreadable mtime counts as fresh, never as reap-eligible.
    * Two concurrent reapers can race on the same dead root — the final
    * per-file deletes are benign (deleteIfExists), but the TRAVERSAL is
    * not: Files.walk wraps a mid-walk NoSuchFileException in
    * UncheckedIOException and the directory stream throws
    * DirectoryIteratorException when a sibling vanishes between list and
    * next() — both RuntimeExceptions, so the whole reap (listing AND
    * delete) guards with NonFatal, never IOException alone. */
  private[operators] def reapDeadRoots(base: java.nio.file.Path,
      now: Long = System.currentTimeMillis()): Unit =
    try {
      if (java.nio.file.Files.isDirectory(base)) {
        import scala.jdk.CollectionConverters._
        val kids = java.nio.file.Files.list(base)
        try kids.iterator().asScala.foreach { p =>
          val name = p.getFileName.toString
          val cut = name.lastIndexOf("-p")
          // no -p suffix = a legacy fixed-path root from an older build;
          // nothing current can own it, reap alongside dead-pid roots
          val tag = if (cut < 0) None else Some(name.substring(cut + 2))
          if (!tag.contains(processTag)) {
            val alive = tag.flatMap(_.toLongOption)
              .exists(pid => ProcessHandle.of(pid)
                .map[Boolean](_.isAlive).orElse(false))
            val abandoned = !alive &&
              !anyMtimeAfter(p, now - ReapMinAgeMillis)
            if (abandoned)
              try deleteTree(p)
              catch { case scala.util.control.NonFatal(_) => () }
          }
        } finally kids.close()
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  private[operators] def scratch(prefix: String, dir: String): String = {
    val base = java.nio.file.Paths.get(
      s"${System.getProperty("java.io.tmpdir")}/graft-scratch")
    reapDeadRoots(base)
    val root = base.resolve(
      s"$prefix-${java.lang.Integer.toHexString(dir.hashCode)}-p$processTag")
    // the recreate-and-first-beat holds the heartbeat lock so the
    // daemon can never write into the tree mid-deleteTree (see
    // touchHeartbeats) — reapDeadRoots above needs no such guard: it
    // only targets OTHER owners' roots stale a full ReapMinAgeMillis,
    // which a live owner's minute-cadence heartbeat precludes
    heartbeatRoots.synchronized {
      if (java.nio.file.Files.exists(root)) deleteTree(root)
      java.nio.file.Files.createDirectories(root)
    }
    registerHeartbeat(root)
    root.toString
  }

  /** Z-order layout rewrite + 2-D range scan: events rewritten along a
    * Morton curve over (user_id, value), then a two-column range predicate
    * aggregated per event_type. At 100 TB the rewrite is a one-time layout
    * cost that turns every later (user × value)-windowed scan into a
    * skipping scan (row-group min/max stats exclude files the curve keeps
    * pure); the oracle proves the rewrite is content-preserving. */
  private def l01(s: SparkSession, dir: String): DataFrame = {
    val path = s"${scratch("graft-l01", dir)}/events_z"
    Formats.writeZOrdered(t(s, dir).events, path, Seq("user_id", "value"),
      bits = 4, outFiles = 32)
    s.read.parquet(path)
      .filter(col("user_id") < 10
        && col("value").between(20.0, 200.0))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100, 0).cast("long")).as("sum_cents"),
        min(col("event_id")).as("min_event"),
        max(col("event_id")).as("max_event"))
      .orderBy(col("event_type"))
  }

  private val l01Sql =
    """SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  min(event_id) AS min_event,
      |  max(event_id) AS max_event
      |FROM events
      |WHERE user_id < 10 AND value BETWEEN 20.0 AND 200.0
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Small-file compaction rewrite: events deliberately fragmented into
    * 48 part files (a streaming sink's typical debris), compacted back to
    * the byte-target file count, then aggregated per event_type from the
    * compacted copy. The oracle proves compaction is content-preserving;
    * FormatsSpec pins the file-count contract. */
  private def l02(s: SparkSession, dir: String): DataFrame = {
    val base = scratch("graft-l02", dir)
    t(s, dir).events.repartition(48).write.parquet(s"$base/frag")
    Formats.compact(s, s"$base/frag", s"$base/compacted")
    s.read.parquet(s"$base/compacted")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100, 0).cast("long")).as("sum_cents"),
        min(col("event_id")).as("min_event"),
        max(col("event_id")).as("max_event"))
      .orderBy(col("event_type"))
  }

  private val l02Sql =
    """SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  min(event_id) AS min_event,
      |  max(event_id) AS max_event
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Targeted key deletion: events laid out key-bucketed by user_id, a
    * small user set deleted via [[Formats.deleteKeys]] (only the buckets
    * those users hash into rewrite — TargetedDeleteSpec pins the
    * byte-identical untouched buckets), then the surviving table
    * aggregated. The oracle proves the delete removed exactly the
    * requested keys and nothing else — the correctness half of the
    * right-to-be-forgotten contract whose I/O half lives in the spec. */
  private def l03(s: SparkSession, dir: String): DataFrame = {
    val path = s"${scratch("graft-l03", dir)}/events_b"
    val ev = t(s, dir).events
    Formats.writeKeyBucketed(ev, path, "user_id", buckets = 8)
    val delKeys = ev.filter(col("user_id") < 3)
      .select(col("user_id")).distinct()
    Formats.deleteKeys(s, path, "user_id", delKeys, buckets = 8)
    s.read.parquet(path)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100, 0).cast("long")).as("sum_cents"),
        min(col("event_id")).as("min_event"),
        max(col("event_id")).as("max_event"))
      .orderBy(col("event_type"))
  }

  private val l03Sql =
    """SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  min(event_id) AS min_event,
      |  max(event_id) AS max_event
      |FROM events
      |WHERE user_id >= 3
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "l01_zorder_scan" -> QueryDef(l01, Some(l01Sql)),
    "l02_compaction_scan" -> QueryDef(l02, Some(l02Sql)),
    "l03_targeted_delete" -> QueryDef(l03, Some(l03Sql)),
  )
}
