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
  * [[RewriteSupport.logStandDown]]). Volatile by design: every audit and
  * stand-down is also written through the rule's logger, and a
  * fail-mode refusal's [[PreflightAbort]] carries its full line. */
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
  }

  /** Latest-first snapshot. */
  def recent(): Seq[Audit] = buf.synchronized {
    import scala.jdk.CollectionConverters._
    buf.descendingIterator().asScala.toVector
  }

  /** The JSON rendering of an audit event `GET /v1/preflight` serves. */
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

  /** Test hook: specs isolate their own fired lines. */
  private[graft] def clear(): Unit = buf.synchronized(buf.clear())
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

  /** The [[ScaleGuards.PreflightKey]] mode, `warn` or `fail`, when an
    * audit can run over `l` and `r`: None when it is unset or `off`, or
    * when either child is streaming (a side job cannot run over a
    * streaming child). Any other value, or a set retired per-family key
    * ([[ScaleGuards.RetiredPreflightKeys]]), fails planning: a typo
    * (`fial`, `on`) or a stale key must not silently disarm the circuit
    * breaker. */
  def preflightMode(l: LogicalPlan, r: LogicalPlan): Option[String] = {
    val key = ScaleGuards.PreflightKey
    ScaleGuards.RetiredPreflightKeys.find(activeConf(_).isDefined)
      .foreach(old => throw new IllegalArgumentException(
        s"$old is retired: set $key (warn, fail or off) instead"))
    // Locale.ROOT: a Turkish-locale JVM lowercases "FAIL" to dotless-ı
    // "faıl", which would fail planning as a typo. activeConf, not
    // spark.conf: cloned sessions inherit the rule instance (see
    // activeConf's note) and must honor their OWN preflight mode.
    activeConf(key).flatMap { raw =>
      raw.toLowerCase(java.util.Locale.ROOT) match {
        case m @ ("warn" | "fail") =>
          if (l.isStreaming || r.isStreaming) None else Some(m)
        case "off" => None
        case _ => throw new IllegalArgumentException(
          s"$key must be warn, fail or off, got '$raw'")
      }
    }
  }

  /** Shared preflight hook for both rewrite rules, run under `mode` (see
    * [[preflightMode]]): evaluate `report` — a one-row skew audit over
    * the join's own children — and log its columns through `warn` as
    * `$tag preflight: k=v ...` in `cols` order. Under `fail` a non-'ok'
    * diagnosis additionally ABORTS planning with [[PreflightAbort]]
    * carrying the same line — the
    * circuit breaker for the 100 TB deployment where a hot-key join is
    * cheaper to refuse than to run; 'ok' audits proceed silently-fast
    * either way. Best-effort for INFRASTRUCTURE errors under both modes:
    * a preflight that itself fails (unresolvable child, side job error)
    * logs and never fails the query — only a successful audit with a bad
    * diagnosis can abort. Columns flagged big are the BIGINT report
    * columns try_cast-degraded to NULL past ~9.2e18 candidates — they
    * are read boxed so the log prints >Long.Max instead of unboxing NULL
    * to a self-contradictory 0 at exactly the hottest extreme. */
  def logPreflight(mode: String, tag: String,
      cols: Seq[(String, Boolean)], warn: String => Unit)
      (report: => org.apache.spark.sql.DataFrame): Unit = {
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
        aborted = bad && mode == "fail",
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
    if (mode == "fail")
      line.foreach(msg => throw new PreflightAbort(
        s"$msg — refusing to plan the join (${ScaleGuards.PreflightKey}" +
          "=fail; set it to warn, or fix the diagnosed skew, to proceed)"))
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
