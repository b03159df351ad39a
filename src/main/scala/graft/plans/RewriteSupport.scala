package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.First
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

/** Thrown by the rewrite rules' `preflight=fail` mode: a successful skew
  * audit returned a non-'ok' diagnosis, and the deployment asked for the
  * join to be refused rather than run — the message carries the full
  * audit line (estimate, worst key, share, diagnosis) so the fix is in
  * the error, not a log grep away. Public (not private[plans]): user
  * code sets the conf and must be able to catch the result. */
class PreflightAbort(message: String) extends RuntimeException(message)

/** Bounded in-memory ring of recent preflight audit lines, fed by
  * [[RewriteSupport.logPreflight]] and served by the management API's
  * `GET /v1/preflight` — an operator watching the HTTP surface could
  * not otherwise see warnings for joins that PROCEEDED (warn mode logs
  * to the driver's log4j only; abort lines at least surface in the
  * query error). Driver-side, tiny (last [[PreflightLog.Capacity]]
  * lines), thread-safe: rules can fire from concurrent planning
  * threads. Public: user monitoring code may read it directly.
  * JVM-global across sessions BY CHOICE — the ring backs a
  * driver-level operational endpoint, and on a multi-session driver
  * the operator watching /v1/preflight wants every session's refusals
  * in one place (the stand-down DEDUP, by contrast, is session-keyed:
  * suppression must never cross tenants — see
  * [[RewriteSupport.logStandDown]]). */
object PreflightLog {
  /** One audit event, with the line PARSED into typed fields beside
    * the raw rendering: a dashboard alerting on `diagnosis != "ok"` or
    * charting `shareBp` should not have to regex the line.
    *
    *  - `rule`: which family produced it (`overlap-join` /
    *    `hamming-block`).
    *  - `kind`: `preflight` (a skew audit over a join that FIRED) or
    *    `stand-down` (a near-miss condition the rewrite refused, with
    *    the disqualifier in `diagnosis`).
    *  - `diagnosis`: `"ok"` or the named problem — the alerting key.
    *  - `worstKey`: the key of the DIAGNOSED problem as `name=value`
    *    pairs — the hot element/block normally, the
    *    `empty_empty_rows` volume when the diagnosis is the
    *    `>=`-Jaccard empty-empty one (empty for stand-downs, which
    *    have no audit row).
    *  - `shareBp`: the diagnosed share in integer basis points —
    *    `empty_share_bp` under the empty-empty diagnosis,
    *    `max_share_bp` otherwise (None for stand-downs, or when the
    *    audit row carried NULL past the BIGINT range). */
  final case class Audit(atMillis: Long, line: String, aborted: Boolean,
      rule: String, kind: String, diagnosis: String,
      worstKey: String, shareBp: Option[Long], session: String = "")

  val Capacity = 50
  private val buf = new java.util.ArrayDeque[Audit](Capacity)

  private[graft] def record(line: String, aborted: Boolean,
      rule: String, kind: String, diagnosis: String,
      worstKey: String = "", shareBp: Option[Long] = None): Unit = {
    // tenant attribution for /v1/preflight?session= — the ring itself
    // stays JVM-global (see the object doc); the field lets a
    // multi-tenant driver's dashboard slice without forking the ring.
    // Identity-hash token, the same notion of tenant the stand-down
    // dedup keys on (a tenant IS a session object); stable for the
    // session's lifetime, which is exactly the filter's useful horizon
    val session = org.apache.spark.sql.SparkSession.getActiveSession
      .map(s => Integer.toHexString(System.identityHashCode(s)))
      .getOrElse("")
    val a = Audit(System.currentTimeMillis(), line, aborted,
      rule, kind, diagnosis, worstKey, shareBp, session)
    buf.synchronized {
      if (buf.size >= Capacity) buf.removeFirst()
      buf.addLast(a)
    }
    appendSpill(a)
  }

  /** Latest-first snapshot. */
  def recent(): Seq[Audit] = buf.synchronized {
    import scala.jdk.CollectionConverters._
    buf.descendingIterator().asScala.toVector
  }

  /** The ONE JSON rendering of an audit event — served verbatim by
    * `GET /v1/preflight` and written verbatim to the spill file, so a
    * reloaded audit is indistinguishable from a live one. */
  def toJson(a: Audit): String = {
    import graft.streaming.JsonText.{escape => esc}
    s"""{"at":${a.atMillis},"aborted":${a.aborted},""" +
      s""""rule":"${esc(a.rule)}",""" +
      s""""kind":"${esc(a.kind)}",""" +
      s""""diagnosis":"${esc(a.diagnosis)}",""" +
      s""""worst":"${esc(a.worstKey)}",""" +
      s""""share_bp":${a.shareBp.map(_.toString).getOrElse("null")},""" +
      s""""session":"${esc(a.session)}",""" +
      s""""line":"${esc(a.line)}"}"""
  }

  // ----- durable spill (bounded JSONL beside a checkpoint root) ---------
  //
  // The 50-event in-memory ring loses fail-mode abort evidence on a
  // driver crash — exactly the event an operator needs post-mortem.
  // When an engine registers a spill path, every record() also appends
  // one JSON line there (append-on-record, size-capped by one `.1`
  // rotation generation → ≤ 2×maxBytes on disk); on restart the engine
  // reloads the tail into the ring so /v1/preflight serves pre-crash
  // audits. Spill I/O is best-effort: telemetry must never fail
  // planning. One spill path per JVM (last registration wins) — the
  // ring it mirrors is JVM-global for the same reason.
  //
  // One sink for every path: the Hadoop FileSystem client Spark ships.
  // Plain and `file:` paths go through the raw local filesystem, which
  // appends in place (O_APPEND — a crash loses at most one line); remote
  // schemes (hdfs://, s3a://) resolve through the session's Hadoop
  // configuration, since real cluster drivers checkpoint to object
  // storage, which is exactly where post-mortem evidence matters. Where
  // the FS cannot append (S3A, the checksummed LocalFileSystem) the
  // fallback is read + concat + tmp + rename, so a crash mid-write
  // leaves the previous file intact.

  private val spillLock = new Object
  @volatile private var spill: Option[SpillSink] = None
  /** How many [[attachSpill]] owners share the current sink. */
  private var spillOwners = 0

  /** Any file at a spill path larger than this is FOREIGN: maxBytes
    * clamps to 64 MiB and rotation fires at the cap, so no generation
    * this code wrote can reach 128 MiB. A foreign file must never be
    * slurped (OutOfMemoryError is not NonFatal — it escapes every
    * telemetry guard), deleted, or rotated into a slot a later
    * rotation would REPLACE away: a misconfigured spill path must not
    * destroy non-spill data. */
  private[plans] val ForeignBound: Long = 128L << 20

  /** The spill file at `p` on `fs`: rotate-if-full then append one
    * record; read back every line, oldest generation first. */
  private final class SpillSink(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path) {
    import org.apache.hadoop.fs.{Path => HPath}
    /** Qualified path — "same registration" for [[spillTo]]. */
    def id: String = p.toString
    @volatile var maxBytes: Long = 0L
    private def rotated = new HPath(p.getParent, p.getName + ".1")
    private def bak = new HPath(p.getParent, s".${p.getName}.bak")
    private def quarantine =
      new HPath(p.getParent, p.getName + ".quarantine")
    def prepare(): Unit = Option(p.getParent).foreach(fs.mkdirs(_))
    private def writeAll(target: HPath, chunks: Array[Byte]*): Unit = {
      val o = fs.create(target, true)
      try chunks.foreach(o.write) finally o.close()
    }
    private def readFully(f: HPath): Array[Byte] = {
      // the clamp bounds files THIS sink wrote; a pre-existing foreign
      // multi-GiB file at the same path must not be slurped onto the
      // driver heap (OutOfMemoryError is not NonFatal — it would escape
      // every telemetry guard) or wrap getLen.toInt negative. Refuse
      // loudly; readLines' catch degrades that generation to empty and
      // append's fallback drops one record — both bounded outcomes.
      val len = fs.getFileStatus(f).getLen
      if (len > ForeignBound) throw new java.io.IOException(
        s"spill file $f is $len bytes — foreign/oversized, refusing to read")
      val buf = new Array[Byte](len.toInt)
      val in = fs.open(f)
      try in.readFully(0, buf) finally in.close()
      buf
    }
    def append(bytes: Array[Byte]): Unit = {
      // crash recovery FIRST: a rewrite that died between its two
      // renames left the only copy parked at .bak — restore it before
      // anything else, or this append would recreate `p` with one
      // record, shadow the parked generation (readLines prefers `p`),
      // and the next rewrite's bak-delete would erase it for good.
      // A .bak COEXISTING with `p` is the other crash residue (died
      // after tmp took p's place, before the bak delete) — STALE by
      // construction; clean it now, or a later rotation crash (p
      // renamed away, then death) would resurrect the old snapshot.
      if (!fs.exists(p) && fs.exists(bak) && !fs.rename(bak, p))
        // restore FAILED (rename-by-false FS): bak still holds the only
        // copy — drop THIS record rather than recreate `p` beside it
        // (the stale-delete below would then destroy the parked
        // generation on the next append); every later append retries
        throw new java.io.IOException(
          s"cannot restore parked spill generation $bak")
      else if (fs.exists(p) && fs.exists(bak)) fs.delete(bak, false)
      if (fs.exists(p)) {
        val len = fs.getFileStatus(p).getLen
        if (len > ForeignBound) {
          // foreign data at the spill path (no generation this sink
          // wrote can reach ForeignBound): step it aside WITHOUT
          // touching the `.1` slot — rotation deletes that slot, which
          // would destroy the foreign file one generation later. If
          // the quarantine slot is occupied or the rename fails, drop
          // THIS record — appends stay dead at this path until an
          // operator intervenes, which beats silently destroying
          // their file.
          if (fs.exists(quarantine) || !fs.rename(p, quarantine))
            throw new java.io.IOException(
              s"foreign file at spill path $p and quarantine " +
                "unavailable — dropping record")
        } else if (len >= maxBytes) {
          if (fs.exists(rotated)) fs.delete(rotated, false)
          if (!fs.rename(p, rotated)) {
            // rename reported failure by RETURNING false: copy-rotate
            // instead (generation briefly exists twice, never zero) so
            // the size bound holds even where rename never works —
            // unbounded growth would eventually trip readFully's bound
            // and silently kill all further spilling
            try { writeAll(rotated, readFully(p)); fs.delete(p, false) }
            catch { case scala.util.control.NonFatal(_) =>
              // un-rotatable (unreadable): renaming failed AND copying
              // can't bound it — the blocking file may be a
              // misconfigured operator's DATA, so never delete it;
              // quarantine it exactly like the foreign case above
              if (fs.exists(quarantine) || !fs.rename(p, quarantine))
                throw new java.io.IOException(
                  s"un-rotatable file at spill path $p and quarantine " +
                    "unavailable — dropping record")
            }
          }
        }
      }
      if (!fs.exists(p)) writeAll(p, bytes)
      else try {
        val o = fs.append(p)
        try o.write(bytes) finally o.close()
      } catch { case scala.util.control.NonFatal(_) =>
        // no-append FS (S3A): rewrite, never exposing a window where
        // the only copy is gone — tmp carries the new content, the
        // CURRENT generation steps aside to .bak (not delete) until
        // tmp has taken its place, and readLines falls back to .bak,
        // so a crash ANYWHERE here loses at most this one record.
        // rename() reports failure by RETURNING false on several
        // FSes — each step is checked, and a failed step restores
        // the original before giving up on this record.
        val tmp = new HPath(p.getParent, s".${p.getName}.tmp")
        writeAll(tmp, readFully(p), bytes)
        if (fs.exists(bak)) fs.delete(bak, false)
        if (!fs.rename(p, bak)) fs.delete(tmp, false)
        else if (!fs.rename(tmp, p)) { fs.rename(bak, p); fs.delete(tmp, false) }
        else fs.delete(bak, false)
      }
    }
    def readLines(): Seq[String] = {
      // .bak stands in for a current generation lost mid-rewrite
      val current = if (fs.exists(p)) Some(p)
        else if (fs.exists(bak)) Some(bak) else None
      (Seq(rotated).filter(fs.exists(_)) ++ current).flatMap { f =>
        try new String(readFully(f),
          java.nio.charset.StandardCharsets.UTF_8)
          .split("\n").toSeq.filter(_.nonEmpty)
        catch { case scala.util.control.NonFatal(_) => Nil }
      }
    }
  }

  /** A URI scheme prefix: anything but a plain local path. */
  private val SchemePrefix = "^[a-zA-Z][a-zA-Z0-9+.-]*:.*".r

  /** The local filesystem WITHOUT the checksum layer, so appends land in
    * place instead of taking the rewrite fallback. */
  private lazy val rawLocal = {
    val fs = new org.apache.hadoop.fs.RawLocalFileSystem()
    fs.initialize(java.net.URI.create("file:///"),
      new org.apache.hadoop.conf.Configuration())
    fs
  }

  /** Register the spill file. `path` may be a plain local path or any
    * Hadoop FileSystem URI (`hdfs://`, `s3a://`, `file://`). Plain and
    * `file:` paths resolve to the same raw local file; remote
    * filesystems resolve through `hadoopConf` when given, else the
    * active/default session's hadoopConfiguration, else a bare
    * `Configuration()`. maxBytes clamps to [4 KiB, 64 MiB]: the spill is
    * bounded telemetry, and the no-append rewrite fallback buffers a
    * generation in memory. Returns true when this call CHANGED the path
    * (callers reload only then — re-registering the same path, e.g. a
    * second engine on the same checkpoint root, must not re-seed the
    * ring with lines it already holds); a same-path re-registration
    * still ADOPTS the new maxBytes. An unresolvable path (bad scheme, FS
    * client error) is a warn-and-refuse false that DETACHES any previous
    * sink — audits must never keep landing in a stale engine's file
    * while the warn claims ring-only telemetry. */
  def spillTo(path: String, maxBytes: Long = 1L << 20,
      hadoopConf: org.apache.hadoop.conf.Configuration = null): Boolean =
    spillLock.synchronized {
      val changed = register(resolve(path, hadoopConf), maxBytes)
      if (changed) spillOwners = 0
      changed
    }

  /** [[spillTo]] for an owner that will [[detachSpill]] when it stops (a
    * stream engine's checkpoint root): returns whether the path changed
    * and the registered sink's id, None when unresolvable. Owners of the
    * same path are counted, so the sink detaches with the last of them. */
  private[graft] def attachSpill(path: String,
      hadoopConf: org.apache.hadoop.conf.Configuration)
      : (Boolean, Option[String]) =
    spillLock.synchronized {
      val sink = resolve(path, hadoopConf)
      val changed = register(sink, 1L << 20)
      spillOwners = if (sink.isEmpty) 0 else if (changed) 1 else spillOwners + 1
      (changed, sink.map(_.id))
    }

  /** Release one [[attachSpill]] ownership of sink `id`: the last owner
    * detaches it, so later audits stop landing beside a stopped owner's
    * root. A sink another registration has since replaced is left alone. */
  private[graft] def detachSpill(id: String): Unit =
    spillLock.synchronized {
      if (spill.exists(_.id == id)) {
        spillOwners -= 1
        if (spillOwners <= 0) { spill = None; spillOwners = 0 }
      }
    }

  private def resolve(path: String,
      hadoopConf: org.apache.hadoop.conf.Configuration): Option[SpillSink] = {
    import org.apache.hadoop.fs.{Path => HPath}
    try {
      val local =
        if (!SchemePrefix.matches(path)) Some(path)
        else Some(new HPath(path).toUri)
          .filter(u => "file".equalsIgnoreCase(u.getScheme))
          .map(_.getPath)
      val (fs, hp) = local match {
        case Some(lp) => (rawLocal, new HPath(java.nio.file.Paths
          .get(lp).toAbsolutePath.normalize.toUri))
        case None =>
          val conf = Option(hadoopConf).getOrElse(
            org.apache.spark.sql.SparkSession.getActiveSession
              .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
              .map(_.sparkContext.hadoopConfiguration)
              .getOrElse(new org.apache.hadoop.conf.Configuration()))
          val hp = new HPath(path)
          (hp.getFileSystem(conf), hp)
      }
      Some(new SpillSink(fs, fs.makeQualified(hp)))
    } catch { case scala.util.control.NonFatal(e) =>
      // ANY scheme-shaped path that fails FS resolution is a
      // warn-and-refuse — including single-slash spellings like
      // 's3a:/bucket/x' and colon-bearing relative paths. A local
      // fallback would turn a misspelled REMOTE root into a bogus
      // local './s3a:…' file with a true return, so crash evidence
      // dies with the driver's disk. A genuinely local path with a
      // colon in its first segment must be spelled
      // './backup:tuesday/…' (no scheme shape) or via file://.
      System.err.println(s"[graft] preflight spill at '$path' " +
        s"unresolvable (${e.getClass.getSimpleName}: ${e.getMessage})" +
        " — continuing with ring-only telemetry")
      None
    }
  }

  /** Test seam: install a sink on a directly-constructed FileSystem (the
    * checksummed LocalFileSystem for the no-append fallback, failing
    * filesystems for the rotation and quarantine edges). */
  private[plans] def registerSink(
      fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path, maxBytes: Long): Boolean =
    spillLock.synchronized {
      spillOwners = 0
      register(Some(new SpillSink(fs, fs.makeQualified(path))), maxBytes)
    }

  private def register(sinkOpt: Option[SpillSink], maxBytes: Long): Boolean =
    sinkOpt match {
      case None =>
        spill = None
        false
      case Some(s) =>
        s.maxBytes = math.min(math.max(maxBytes, 4096L), 64L << 20)
        val changed = !spill.map(_.id).contains(s.id)
        if (changed) {
          try s.prepare()
          catch { case scala.util.control.NonFatal(_) => () }
          spill = Some(s)
        } else spill.foreach(_.maxBytes = s.maxBytes)
        changed
    }

  private def appendSpill(a: Audit): Unit =
    // registration read INSIDE the lock: a check-then-act snapshot could
    // write to a path detached by clearSpill or superseded by a newer
    // registration in the window.
    // Synchronous by design, not oversight: record() only fires when a
    // preflight RAN (an entire side Spark job at planning time — the
    // file append is noise beside it) or for a once-per-(session,
    // condition) deduped stand-down. An async buffer would add a flush
    // lifecycle for an event rate of ~one per rewrite fire; revisit only
    // if a future caller records on a genuinely hot path.
    spillLock.synchronized {
      spill.foreach { s =>
        try s.append((toJson(a) + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }

  private def jsonStr(json: String, field: String): Option[String] = {
    val m = (s""""$field":"((?:[^"\\\\]|\\\\.)*)"""").r
      .findFirstMatchIn(json).map(_.group(1))
    m.map { raw =>
      val b = new StringBuilder
      var i = 0
      while (i < raw.length) {
        val c = raw.charAt(i)
        if (c == '\\' && i + 1 < raw.length) raw.charAt(i + 1) match {
          case 'u' if i + 5 < raw.length =>
            b += Integer.parseInt(raw.substring(i + 2, i + 6), 16).toChar
            i += 6
          case o => b += o; i += 2
        } else { b += c; i += 1 }
      }
      b.toString
    }
  }

  private def parseAudit(jsonLine: String): Option[Audit] =
    for {
      at <- """"at":(\d+)""".r.findFirstMatchIn(jsonLine)
        .map(_.group(1).toLong)
      aborted <- """"aborted":(true|false)""".r.findFirstMatchIn(jsonLine)
        .map(_.group(1).toBoolean)
      rule <- jsonStr(jsonLine, "rule")
      kind <- jsonStr(jsonLine, "kind")
      diagnosis <- jsonStr(jsonLine, "diagnosis")
      line <- jsonStr(jsonLine, "line")
    } yield Audit(at, line, aborted, rule, kind, diagnosis,
      worstKey = jsonStr(jsonLine, "worst").getOrElse(""),
      shareBp = """"share_bp":(\d+)""".r.findFirstMatchIn(jsonLine)
        .map(_.group(1).toLong),
      session = jsonStr(jsonLine, "session").getOrElse(""))

  /** Reload the registered spill file (rotated generation first, so
    * order is oldest→newest) and MERGE it with whatever the ring already
    * holds: reloaded pre-crash audits must never rank ABOVE (or evict)
    * audits that fired live in this JVM, and a path registered twice
    * with records in between (A→B→A engines; a record racing the
    * registration) must not duplicate entries. Merge = dedupe by full
    * structural equality, order by timestamp (live wins ties — the sort
    * is stable and loaded entries sort first at equal stamps), keep the
    * newest [[Capacity]]. Malformed or torn lines are SKIPPED, never
    * thrown — a kill -9 mid-append leaves a partial line glued to the
    * next record, and loadSpill runs inside GraftEngine's constructor:
    * an exception here would crash-loop every restart against the same
    * corrupt file. Returns how many audits were parsed from disk.
    * Reloaded entries are NOT re-spilled (the file already holds
    * them). */
  def loadSpill(): Int = spillLock.synchronized {
    spill.map { s =>
      import scala.jdk.CollectionConverters._
      val lines =
        try s.readLines()
        catch { case scala.util.control.NonFatal(_) => Nil }
      val loaded = lines.flatMap { l =>
        try parseAudit(l)
        catch { case scala.util.control.NonFatal(_) => None }
      }
      buf.synchronized {
        val live = buf.iterator().asScala.toVector
        val merged = (loaded ++ live).distinct
          .sortBy(_.atMillis).takeRight(Capacity)
        buf.clear()
        merged.foreach(buf.addLast)
      }
      loaded.size
    }.getOrElse(0)
  }

  /** Test hook: specs isolate their own fired lines. Does not touch the
    * spill file (the ring is the volatile half; the file is the durable
    * half a reload test clears the ring AROUND). */
  private[graft] def clear(): Unit = buf.synchronized(buf.clear())

  /** Test hook: detach the spill sink (specs must not leak a tmp spill
    * path into later suites sharing this JVM-global object). */
  private[graft] def clearSpill(): Unit =
    spillLock.synchronized { spill = None; spillOwners = 0 }
}

/** Pattern helpers for the theta-join rewrites ([[ThetaJoinRewrite]]). */
private[plans] object RewriteSupport {

  /** Once-per-(rule, condition) memory for stand-down diagnostics
    * (shared by both rewrite rules): the rules sit in a fixed-point
    * optimizer batch, so an un-rewritten join re-matches on every
    * iteration of every query — without dedup one stand-down would log
    * dozens of identical lines. Keyed by the CANONICALIZED condition
    * (structural equality) PLUS the rule tag: one condition can carry
    * near-misses for BOTH rules (nullable gram arrays AND an over-wide
    * hamming radius in one conjunction), and a condition-only key would
    * let whichever rule ran first permanently suppress the other's
    * distinct diagnosis. ALSO keyed by the thread-active session's
    * identity: the map is a JVM-global singleton shared across every
    * SparkSession in a multi-tenant driver, and without the session
    * key one tenant's stand-down would silently suppress an identical
    * condition's diagnosis for every other tenant — each session's
    * first near-miss deserves its own warning. Bounded LRU so a
    * long-lived session cannot grow it unboundedly. Shared across rule
    * instances on purpose: one session may build several. */
  private val loggedStandDowns = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(Int, String, Expression),
        java.lang.Boolean](16, 0.75f, false) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(Int, String, Expression),
            java.lang.Boolean]): Boolean = size() > 256
    })

  /** Identity of the session whose query is being optimized on this
    * thread (0 when none is active — rule evaluation outside a session
    * is a test-only situation). Reference identity, not sessionUUID:
    * the dedup's purpose is per-TENANT warning delivery and a tenant
    * IS a session object. */
  private def activeSessionId: Int =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(System.identityHashCode(_)).getOrElse(0)

  /** Shared stand-down reporter: WARN through the calling rule's
    * logger + [[PreflightLog]] (served by /v1/preflight), once per
    * (rule tag, canonicalized condition). */
  def logStandDown(tag: String, j: Join, compares: String,
      reasons: Seq[String], warn: String => Unit): Unit =
    if (reasons.nonEmpty && loggedStandDowns.put(
        (activeSessionId, tag, j.condition.get.canonicalized),
        java.lang.Boolean.TRUE) == null) {
      val line = s"$tag rewrite stand-down (${j.joinType.sql} join stays " +
        s"a nested loop over |L|x|R| $compares): " + reasons.mkString("; ")
      warn(line)
      PreflightLog.record(line, aborted = false, rule = tag,
        kind = "stand-down", diagnosis = reasons.mkString("; "))
    }

  /** Both expressions reference exactly one join side each — the
    * orientation the rewrites (and their near-miss diagnostics) need. */
  def crossSides(l: LogicalPlan, r: LogicalPlan)(
      a: Expression, b: Expression): Boolean = {
    val (ra, rb) = (a.references, b.references)
    ra.nonEmpty && rb.nonEmpty &&
      ((ra.subsetOf(l.outputSet) && rb.subsetOf(r.outputSet)) ||
        (ra.subsetOf(r.outputSet) && rb.subsetOf(l.outputSet)))
  }

  /** Test hook. */
  private[graft] def clearStandDownLog(): Unit = loggedStandDowns.clear()

  /** Session-conf read through the THREAD-ACTIVE SQLConf, never the
    * rule's captured session: the extraOptimizations registrations are
    * inherited by cloned sessions (ExperimentalMethods.clone copies the
    * list, so the clone reuses the parent's rule INSTANCES), and a
    * captured-session read would apply the parent's settings — enable
    * flags, preflight mode, two-phase floor — to the clone's queries. */
  def activeConf(key: String): Option[String] =
    Option(org.apache.spark.sql.internal.SQLConf.get
      .getConfString(key, null))

  def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  /** Shared conf-gated preflight hook for both rewrite rules: when
    * `confKey` is set to `warn` or `fail` and neither child is streaming
    * (a side job cannot run over a streaming child), evaluate `report` —
    * a one-row skew audit over the join's own children — and log its
    * columns through `warn` as `$tag preflight: k=v ...` in `cols`
    * order. Under `fail` a non-'ok' diagnosis additionally ABORTS
    * planning with [[PreflightAbort]] carrying the same line — the
    * circuit breaker for the 100 TB deployment where a hot-key join is
    * cheaper to refuse than to run; 'ok' audits proceed silently-fast
    * either way. Best-effort for INFRASTRUCTURE errors under both modes:
    * a preflight that itself fails (unresolvable child, side job error)
    * logs and never fails the query — only a successful audit with a bad
    * diagnosis can abort. Columns flagged big are the BIGINT report
    * columns try_cast-degraded to NULL past ~9.2e18 candidates — they
    * are read boxed so the log prints >Long.Max instead of unboxing NULL
    * to a self-contradictory 0 at exactly the hottest extreme. */
  def logPreflight(spark: org.apache.spark.sql.SparkSession,
      confKey: String, tag: String, l: LogicalPlan, r: LogicalPlan,
      cols: Seq[(String, Boolean)], warn: String => Unit)
      (report: => org.apache.spark.sql.DataFrame): Unit = {
    // Locale.ROOT: a Turkish-locale JVM lowercases "FAIL" to dotless-ı
    // "faıl", silently disarming the circuit breaker. activeConf, not
    // spark.conf: cloned sessions inherit the rule instance (see
    // activeConf's note) and must honor their OWN preflight mode.
    val mode = activeConf(confKey)
      .map(_.toLowerCase(java.util.Locale.ROOT))
      .filter(m => m == "warn" || m == "fail")
    if (mode.isDefined && !l.isStreaming && !r.isStreaming) {
      val line = try {
        val row = report.head()
        def big(name: String): String =
          Option(row.getAs[java.lang.Long](name))
            .map(_.toString).getOrElse(">Long.Max")
        def rendered1(n: String, isBig: Boolean): String =
          s"$n=${if (isBig) big(n) else String.valueOf(row.getAs[Any](n))}"
        val rendered = s"$tag preflight: " + cols.map { case (n, isBig) =>
          rendered1(n, isBig)
        }.mkString(" ")
        warn(rendered)
        val diagnosis = row.getAs[String]("diagnosis")
        val bad = diagnosis != "ok"
        // structured twin fields (served by /v1/preflight): the rule
        // tag minus the " rewrite" suffix matches the stand-down tags,
        // and worstKey/shareBp must describe the DIAGNOSED problem —
        // the >=-Jaccard empty-empty diagnosis is keyed off
        // empty_share_bp, and reporting max_share_bp/worst_element
        // beside it would send the dashboard operator to cap a harmless
        // element while understating the alert by the share ratio (the
        // raw line always carries every column for the full picture)
        val eeDiag = diagnosis != null && diagnosis.startsWith("empty-empty")
        def boxedShare(name: String): Option[Long] =
          Option(row.getAs[java.lang.Long](name)).map(_.longValue)
        PreflightLog.record(rendered,
          aborted = bad && mode.contains("fail"),
          rule = tag.stripSuffix(" rewrite"), kind = "preflight",
          diagnosis = String.valueOf(diagnosis),
          worstKey =
            if (eeDiag) rendered1("empty_empty_rows", isBig = true)
            else cols.collect {
              case (n, isBig) if n.startsWith("worst_") =>
                rendered1(n, isBig)
            }.mkString(" "),
          shareBp = boxedShare(
            if (eeDiag) "empty_share_bp" else "max_share_bp"))
        if (bad) Some(rendered) else None
      } catch {
        case scala.util.control.NonFatal(e) =>
          warn(s"$tag preflight failed: $e")
          None
      }
      if (mode.contains("fail"))
        line.foreach(msg => throw new PreflightAbort(
          s"$msg — refusing to plan the join ($confKey=fail; set it to " +
            "warn, or fix the diagnosed skew, to proceed)"))
    }
  }

  /** SELF-joins (canonically identical children — d25's fingerprint
    * self-join is the archetype) get a SHUFFLE_HASH hint: both exploded
    * sides then plan the SAME hash exchange, which exchange/stage reuse
    * deduplicates — the expensive upstream pipeline (fingerprinting,
    * shingling) runs ONCE and its shuffle output is read twice. A
    * broadcast join would instead re-execute the pipeline to build the
    * broadcast side (measured on d25 at sf0.1: 4.9 s broadcast vs 2.0 s
    * warm with the reused exchange, with no cache and no caller
    * contract). Distinct
    * children keep the planner's choice — broadcasting a genuinely
    * small side is still right. */
  def selfJoinHint(l: LogicalPlan, r: LogicalPlan,
      hint: JoinHint): JoinHint =
    if (l.canonicalized == r.canonicalized)
      JoinHint(Some(HintInfo(Some(SHUFFLE_HASH))),
        Some(HintInfo(Some(SHUFFLE_HASH))))
    else hint

  /** Orient (a, b) as (left-side, right-side) expressions, if they split. */
  def oriented(a: Expression, b: Expression,
      l: LogicalPlan, r: LogicalPlan): Option[(Expression, Expression)] =
    if (a.references.nonEmpty && b.references.nonEmpty
        && a.references.subsetOf(l.outputSet)
        && b.references.subsetOf(r.outputSet)) Some((a, b))
    else if (a.references.nonEmpty && b.references.nonEmpty
        && b.references.subsetOf(l.outputSet)
        && a.references.subsetOf(r.outputSet)) Some((b, a))
    else None

  /** <=> counts: ExtractEquiJoinKeys plans EqualNullSafe as an
    * O(collisions) hash join just like =, so a join already linked by
    * either is better left alone than exploded. */
  def hasEquiBetween(cs: Seq[Expression],
      l: LogicalPlan, r: LogicalPlan): Boolean =
    cs.exists {
      case EqualTo(x, y) => crossSides(l, r)(x, y)
      case EqualNullSafe(x, y) => crossSides(l, r)(x, y)
      case _ => false
    }

  /** Non-container type — what the two-phase topologies allow in the
    * slim candidate exchange (a handful of fixed-width or short scalar
    * columns, never an array/map/struct payload). */
  def scalarType(dt: DataType): Boolean = dt match {
    case _: ArrayType | _: MapType | _: StructType => false
    case _ => true
  }

  /** Determinism check that sees through [[graft.functions.PlanFence]]:
    * the fence is a pure identity whose non-deterministic flag exists
    * only to stop RELOCATION rules — it selects and orders rows exactly
    * like its child, so treating a fenced filter as order-racy would
    * wrongly stand the two-phase rewrites down on any fenced plan (a
    * user following the fence guidance would silently lose the anti
    * rewrite, which has no fallback). */
  private def orderDeterministic(e: Expression): Boolean =
    e.transform {
      case graft.functions.PlanFence(child) => child
    }.deterministic

  /** Row ORDER of this subtree is reproducible across two physical
    * instantiations of the same logical subplan: file-relation leaves
    * (split planning and in-split order are functions of the files
    * alone), local/range leaves, and deterministic narrow operators
    * above them. Anything that fetches shuffle blocks (whose arrival
    * order is racy) breaks it.
    *
    * Bucketed file relations are EXCLUDED: DisableUnnecessaryBucketedScan
    * may keep one twin scan bucketed while disabling the other (the slim
    * side's parents never need bucket distribution; the back side's may),
    * giving the two instantiations different partition layouts and
    * therefore divergent rowids — silently wrong join results. Only
    * unbucketed HadoopFsRelations qualify.
    *
    * CONTRACT: the file set must be static for the duration of the query.
    * Files appended or compacted between the two physical scans of the
    * same relation change split planning and break rowid agreement the
    * same way — the two-phase topologies assume a quiescent table, which
    * is the normal batch-query premise (a concurrently-compacted table
    * is unsafe for ANY multi-scan Spark query, not just these). */
  def orderStable(p: LogicalPlan): Boolean = p match {
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation => fs.bucketSpec.isEmpty
      case _ => false
    }
    // NOT LocalRelation: a runtime monotonically_increasing_id over a
    // LocalTableScan is NOT instantiation-stable — the same 3-row
    // relation measured ids (0,1,2) on one side of a join and
    // (0, 1<<33, 2<<33) on the other (different partition layouts per
    // physical instantiation). The early optimizer masked this by
    // constant-folding the id Project into the LocalRelation
    // (ConvertToLocalRelation), but the post-subquery batch runs after
    // that rule's last chance — withStableRowId instead MATERIALIZES
    // ids into LocalRelation data itself (stable by construction).
    case _: Range | _: OneRowRelation => true
    case Project(es, c) => es.forall(orderDeterministic) && orderStable(c)
    case Filter(cond, c) => orderDeterministic(cond) && orderStable(c)
    case g: Generate => g.generator.deterministic && orderStable(g.child)
    case s: SubqueryAlias => orderStable(s.child)
    case _ => false
  }

  /** Tag every row of `p` with a unique id that is REPRODUCIBLE across
    * two physical instantiations of the returned plan — the handle the
    * two-phase rewrites join their slim candidate pair-lists back on.
    *
    * `monotonically_increasing_id` is (partition id << 33) + row index,
    * so it reproduces exactly when partition layout and in-partition
    * row order do — true at an [[orderStable]] subtree, false above any
    * shuffle. When `p` itself sits above a shuffle (a repartition, say),
    * the id Project is pushed BELOW it, through operators that neither
    * create nor select rows order-dependently — deterministic
    * Project/Filter, repartitions (per-row hash routing; round-robin
    * only moves the already-tagged rows), Sort — and the tag column is
    * threaded back up. Limits/samples/aggregates/joins block the push:
    * a limit over racy order KEEPS different rows per instantiation, so
    * no tag below it can help; callers fall back to their single-
    * instantiation shape.
    *
    * Returns the re-built plan (output = p.output :+ rid) and the rid
    * attribute, or None when no stable insertion point exists. */
  /** Tiny reference-keyed cache of rowid-tagged LocalRelation data
    * (see the LocalRelation case below). Keyed by `eq`, NOT equals —
    * the repeated taggings inside one rewrite all hold the SAME child
    * reference, and a hash-keyed map (WeakHashMap keys by equals) would
    * pay an O(rows) relation hash per probe, most of the copy cost the
    * cache exists to remove. Bounded to the last 8 relations (one
    * rewrite touches at most a handful) so fixture data never
    * accumulates; lock-free — concurrent first-taggings of the same
    * relation may both compute (identical results), but the atomic
    * prepend-and-trim means neither insertion can DROP the other's
    * entry (a plain get-then-set raced exactly that way, re-paying the
    * O(rows) copy on the next probe). */
  private val taggedLocalData = new java.util.concurrent.atomic
    .AtomicReference[List[(LocalRelation,
      Vector[org.apache.spark.sql.catalyst.InternalRow])]](Nil)

  private def taggedDataOf(lr: LocalRelation)
      : Vector[org.apache.spark.sql.catalyst.InternalRow] = {
    val cur = taggedLocalData.get()
    cur.collectFirst { case (k, v) if k eq lr => v }.getOrElse {
      // toVector: strict — a lazy Seq here would both defer the copy
      // to executor-serialization time and retain the source relation
      val t = lr.data.zipWithIndex.map { case (row, i) =>
        org.apache.spark.sql.catalyst.InternalRow.fromSeq(
          lr.output.indices.map(j => row.get(j, lr.output(j).dataType))
            :+ i.toLong)
      }.toVector
      taggedLocalData.updateAndGet(latest =>
        ((lr, t) :: latest.filterNot(_._1 eq lr)).take(8))
      t
    }
  }

  def withStableRowId(p: LogicalPlan, name: String)
      : Option[(LogicalPlan, Attribute)] = {
    if (orderStable(p)) {
      val rid = Alias(MonotonicallyIncreasingID(), name)()
      Some((Project(p.output :+ rid, p), rid.toAttribute))
    } else p match {
      // LocalRelation: materialize 0..n-1 into the DATA — a literal
      // column is trivially identical across instantiations, where a
      // runtime monotonically_increasing_id is not (see orderStable's
      // note). Also what ConvertToLocalRelation would have folded the
      // id Project into anyway when this runs early. The tagged rows
      // are CACHED per relation instance: one two-phase rewrite tags
      // the same side up to four times (rid/prid/vrid/erid), and
      // re-copying the whole dataset into boxed rows per call would
      // turn planning into an O(4·rows) driver copy — the values are
      // identical (0..n-1 in data order), only the attribute differs.
      case lr: LocalRelation if !lr.isStreaming =>
        val rid = AttributeReference(name, LongType, nullable = false)()
        Some((LocalRelation(lr.output :+ rid, taggedDataOf(lr),
          lr.isStreaming), rid))
      case Project(list, c) if list.forall(orderDeterministic) =>
        withStableRowId(c, name).map { case (c2, rid) =>
          (Project(list :+ rid, c2), rid)
        }
      case f @ Filter(cond, _) if orderDeterministic(cond) =>
        withStableRowId(f.child, name).map { case (c2, rid) =>
          (f.withNewChildren(Seq(c2)), rid)
        }
      case u @ (_: RepartitionOperation | _: Sort | _: SubqueryAlias) =>
        withStableRowId(u.children.head, name).map { case (c2, rid) =>
          (u.withNewChildren(Seq(c2)), rid)
        }
      case _ => None
    }
  }

  /** `array_distinct(transform(<non-null elements of arr>, xxhash64))` —
    * the 8-byte element keys the two-phase overlap topology explodes.
    * Nulls are dropped FIRST (xxhash64 would otherwise map them to the
    * seed, a joinable non-null long — but a shared null is never an
    * overlap witness), and distinct runs on the hashes so each key
    * explodes at most once per row. */
  def hashedElems(arr: Expression): Expression = {
    val ArrayType(et, containsNull) = (arr.dataType: @unchecked)
    val h = NamedLambdaVariable("graft_hx", et, nullable = containsNull)
    ArrayDistinct(ArrayTransform(nonNullElems(arr),
      LambdaFunction(XxHash64(Seq(h), 42L), Seq(h))))
  }

  /** `filter(arr, x -> x IS NOT NULL)`, or `arr` itself when its type
    * is null-free. */
  def nonNullElems(arr: Expression): Expression = arr.dataType match {
    case ArrayType(et, true) =>
      val v = NamedLambdaVariable("graft_nn", et, nullable = true)
      ArrayFilter(arr, LambdaFunction(IsNotNull(v), Seq(v)))
    case _ => arr
  }

  /** SSJoin prefix filter (the All-Pairs/PPJoin candidate bound from
    * the public similarity-join literature): if |set(A) ∩ set(B)| ≥ c,
    * the ascending-sorted distinct arrays share an element within the
    * first (size − c + 1) positions of EACH side — take the c-th
    * LARGEST common element x: at least c−1 common elements exceed x,
    * so x is not among either side's top c−1 elements, i.e. x lies in
    * both prefixes. The same argument puts the pair's MINIMUM common
    * element in both prefixes (all other common elements exceed it),
    * which is what lets the in-place pin
    * (`array_min(array_intersect(a, b))`) keep matching on
    * prefix-sliced explodes. `len` maps the per-row distinct size to
    * the prefix length (clamped at 0 — a row whose prefix is empty can
    * never reach its threshold, so exploding nothing is exact AND
    * free). Callers must hold the threshold spellings' static
    * null-free gate: null elements would occupy prefix slots and push
    * real witnesses out. */
  def prefixElems(arr: Expression, len: Expression => Expression): Expression = {
    val d = distinctElems(arr)
    // the O(n log n) sort appears ONCE (the slice target); the length
    // arithmetic reads Size over the UNSORTED distinct array (same
    // cardinality), so a len function that references its size twice
    // duplicates only the O(n) distinct, never the sort
    Slice(SortArray(d, Literal(true)), Literal(1),
      Greatest(Seq(len(Size(d, legacySizeOfNull = false)), Literal(0))))
  }

  /** [[prefixElems]] mapped through xxhash64 — the 8-byte keys the
    * two-phase topology explodes. Hash collisions only ever ADD
    * candidate pairs (the raw predicate re-applies after the
    * back-joins), so prefix completeness is unaffected.
    *
    * The prefix lemma holds for ANY total order on elements applied
    * consistently to both sides — nothing privileges the element type's
    * natural order. For string/binary elements the natural sort pays an
    * O(len) byte compare per comparison (4-gram shingles share long
    * common prefixes, making them near-worst-case), so those sort by
    * `(xxhash64(e), e)` structs instead: the first field decides in one
    * long compare, the raw element breaks 2^-64 hash ties so the order
    * stays a genuine total order on elements (sorting bare hashes would
    * NOT be one — a cross-side collision could then cost a true pair,
    * breaking exactness). Both two-phase sides build through this same
    * function, so the orders agree. Cheap-compare element types keep
    * the natural sort (the struct wrap would only add per-element
    * allocation). Measured on d33 (strict-Jaccard over 4-gram string
    * shingles, sf0.1 warm): the struct sort removes the string-compare
    * tail from the slim explode. */
  def hashedPrefixElems(arr: Expression,
      len: Expression => Expression): Expression = {
    val et = arr.dataType.asInstanceOf[ArrayType].elementType
    et match {
      case StringType | BinaryType =>
        val d = distinctElems(arr)
        val e = NamedLambdaVariable("graft_he", et, nullable = false)
        val tagged = ArrayTransform(d, LambdaFunction(
          CreateNamedStruct(Seq(
            Literal("h"), XxHash64(Seq(e), 42L), Literal("v"), e)),
          Seq(e)))
        val sliced = Slice(SortArray(tagged, Literal(true)), Literal(1),
          Greatest(Seq(len(Size(d, legacySizeOfNull = false)), Literal(0))))
        val s = NamedLambdaVariable("graft_hp",
          StructType(Seq(StructField("h", LongType, nullable = false),
            StructField("v", et, nullable = false))), nullable = false)
        ArrayTransform(sliced,
          LambdaFunction(GetStructField(s, 0, Some("h")), Seq(s)))
      case _ =>
        val h = NamedLambdaVariable("graft_hx", et, nullable = false)
        ArrayTransform(prefixElems(arr, len),
          LambdaFunction(XxHash64(Seq(h), 42L), Seq(h)))
    }
  }

  /** Collapse each tagged row's surviving exploded copies back to ONE
    * row, grouping on the unique srid ALONE. Grouping on the payload
    * columns (the previous shape) routed float/double payloads through
    * NormalizeFloatingNumbers — a surviving row carrying -0.0 or a
    * non-canonical NaN came out with normalized bits, a value change
    * the original LeftSemi never makes. The srid group is a singleton,
    * so First over it is exact; aliases reuse the original exprIds so
    * parents resolve unchanged, and KnownNotNull restores the original
    * nullability (First widens to nullable, but a singleton group's
    * First of a non-null column is never null). Map-typed payloads —
    * which cannot be grouping keys — ride the First too, so semis over
    * map-carrying rows no longer stand down. */
  def collapseBySrid(srid: Attribute, payload: Seq[Attribute],
      child: LogicalPlan): Aggregate =
    Aggregate(Seq(srid), payload.map { at =>
      val agg = First(at, ignoreNulls = false).toAggregateExpression()
      val e = if (at.nullable) agg else KnownNotNull(agg)
      Alias(e, at.name)(exprId = at.exprId, qualifier = at.qualifier)
    }, child)

  /** `array_distinct(<non-null elements of arr>)` — the raw-element twin
    * of [[hashedElems]] for the semi paths, whose witness equality must
    * be exact without a later re-check. */
  def distinctElems(arr: Expression): Expression =
    ArrayDistinct(nonNullElems(arr))
}
