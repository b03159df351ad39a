package graft.plans

import org.apache.spark.sql.catalyst.expressions.WindowExpression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer-rule guardrail (SURVEY §7.2's `injectOptimizerRule` slot):
  * fails any plan containing an UNPARTITIONED window — `Window.orderBy(...)`
  * with no `partitionBy` — when `spark.graft.failUnpartitionedWindows` is
  * `true`.
  *
  * Why a rule and not a review comment: an unpartitioned window funnels the
  * entire input through ONE task (Spark itself only logs a WARN at runtime,
  * after the single-task stage is already scheduled). At 100 TB that is not
  * slow — it is a job that never finishes. The engine's own queries are
  * swept for this shape by PlanSpec; the rule extends the same guarantee to
  * USER queries running on a [[graft.GraftSession]], turning a
  * cluster-killer into an immediate, attributable failure at planning time.
  *
  * Semantics-neutral by construction: the rule only inspects and throws —
  * it never rewrites — and it is opt-in via conf (default off) so
  * deliberately-global windows over provably tiny frames remain available.
  */
class FailUnpartitionedWindows extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (ScaleGuards.flag(ScaleGuards.FailUnpartitionedWindowsKey,
        default = false)) {
      plan.foreach {
        case w: Window if w.partitionSpec.isEmpty
            && w.windowExpressions.exists(_.exists(
              _.isInstanceOf[WindowExpression])) =>
          throw new IllegalStateException(
            "unpartitioned window function (whole input through one task " +
              "at scale): add partitionBy, or unset " +
              s"${ScaleGuards.FailUnpartitionedWindowsKey} if the frame " +
              "is provably small")
        case _ => ()
      }
    }
    plan
  }
}

/** Companion guardrail: fails any plan containing a CONDITION-LESS inner
  * join — `a.crossJoin(b)` or `a.join(b)` with no usable predicate — when
  * `spark.graft.failCartesianProducts` is `true`.
  *
  * Runs in the user-rule batch, i.e. AFTER predicate pushdown, so an inner
  * join whose equality lives in a Filter above it has already had the
  * condition pushed in — what is condition-less here is a real |L|·|R|
  * cartesian at execution. Like the window guard it is inspect-and-throw,
  * opt-in, and default-off: a deliberate cross join against a provably
  * tiny constant frame (an epoch sequence, a parameter grid) is sometimes
  * exactly right — unset the conf around it. */
class FailCartesianProducts extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
  import org.apache.spark.sql.catalyst.plans.logical.Join
  import org.apache.spark.sql.catalyst.plans.logical.BROADCAST

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (ScaleGuards.flag(ScaleGuards.FailCartesianProductsKey,
        default = false)) {
      plan.foreach {
        // a BROADCAST hint on either side is an explicit tiny-side
        // declaration — the guard's own "deliberate cross against a
        // provably tiny frame" carve-out, spelled in the plan instead
        // of by unsetting the conf. It also exempts the >=-Jaccard
        // rewrite's empty-empty branch (SetOverlapJoinRewrite
        // .withEmptyEmptyBranch), whose broadcast cross of the two
        // size-0-filtered subsets is semantically REQUIRED output and
        // runs in this same fixed-point batch. (A Literal(true)
        // condition would not survive as an exemption: predicate
        // pushdown strips it back to condition-less.)
        case j: Join if j.condition.isEmpty
            && (j.joinType == Inner || j.joinType == Cross)
            && !j.hint.leftHint.exists(_.strategy.contains(BROADCAST))
            && !j.hint.rightHint.exists(_.strategy.contains(BROADCAST)) =>
          throw new IllegalStateException(
            "condition-less (cartesian) inner join: |left|·|right| rows " +
              "at scale. Add a join condition, broadcast() the side that " +
              "is provably tiny, or unset " +
              s"${ScaleGuards.FailCartesianProductsKey} if the product " +
              "is intended")
        case _ => ()
      }
    }
    plan
  }
}

object ScaleGuards {
  val FailUnpartitionedWindowsKey = "spark.graft.failUnpartitionedWindows"
  val FailCartesianProductsKey = "spark.graft.failCartesianProducts"
  val HammingBlockJoinRewriteKey = "spark.graft.hammingBlockJoinRewrite"
  val OverlapJoinRewriteKey = "spark.graft.overlapJoinRewrite"

  /** Estimated-size floor (bytes, per larger join side) above which the
    * two-phase pair-list topology replaces the in-place exploded join.
    * Below it the in-place form's wide exchange is cheaper than three
    * extra tiny shuffles. SHARED by BOTH rewrite rules — the overlap
    * rule (whose name the key carries, historically) and the Hamming
    * block rule dispatch their wide-payload two-phase off this same
    * threshold, so raising it to force in-place overlap joins also
    * forces in-place Hamming joins. One knob on purpose: the policy it
    * encodes ("when is a side big enough that payload width matters")
    * is topology-independent. */
  val OverlapTwoPhaseMinBytesKey = "spark.graft.overlapJoinRewrite.twoPhaseMinBytes"
  val OverlapTwoPhaseMinBytesDefault = 8L * 1024

  /** Opt-in skew audit at rewrite time, for both rule families. Set to
    * `warn` and every rewrite fire runs its family's SkewTools preflight
    * ([[graft.operators.SkewTools.overlapJoinPreflight]], the d31 audit,
    * or [[graft.operators.SkewTools.hammingJoinPreflight]], the d41
    * audit) over the join's own children and logs the Σ fL·fR candidate
    * estimate with the worst key named. Set to `fail` and a non-'ok'
    * diagnosis additionally ABORTS planning with
    * [[graft.plans.PreflightAbort]] carrying the full audit line — the
    * circuit breaker for deployments where a hot-key join is cheaper to
    * refuse than to run ('ok' audits proceed; a preflight that itself
    * errors only warns, under either mode). Default off (unset or
    * `off`; any other value fails planning): the preflight is a real
    * Spark job at planning time. Above [[PreflightSampleMinBytes]] it
    * samples ([[preflightSample]]). */
  val PreflightKey = "spark.graft.preflight"

  /** The per-family mode keys [[PreflightKey]] replaced
    * (`<rule key>.preflight`). A session that still sets one fails
    * planning of a fired rewrite, naming [[PreflightKey]]: dropping the
    * key silently would disarm a deployment's `fail` circuit breaker. */
  private[plans] val RetiredPreflightKeys =
    Seq(OverlapJoinRewriteKey, HammingBlockJoinRewriteKey).map(_ + ".preflight")

  /** Stats floor (bytes, larger join child) at which the preflight
    * samples instead of auditing exactly — the 100 TB default: the exact
    * audit is a full scan + explode of both children at planning time.
    * Same `sizeInBytes`-floor pattern as [[OverlapTwoPhaseMinBytesKey]]:
    * LocalRelation/test fixtures estimate ~KB..MB and stay exact
    * (d31/d41's oracle schemas carry no provenance column), real
    * big-data relations estimate ≈ file bytes and sample. */
  val PreflightSampleMinBytes: BigInt = BigInt(4L) << 30

  /** Per-side row budget the sampled audit targets. ~1M rows keeps the
    * audit a sub-second job at any scale while sampling every key
    * frequent enough to matter (a key that misses a 1M-row sample
    * entirely cannot dominate Σ fL·fR). */
  val PreflightSampleTargetRows: Long = 1000000L

  /** The one reader of the four on/off plan keys: `true` or `false` in
    * any case, `default` when unset. Any other value fails planning with
    * an error that names the key: `=off` must not leave a rewrite on,
    * nor `=on` a safety guard off. Read through the thread-active SQLConf
    * ([[RewriteSupport.activeConf]]). */
  private[plans] def flag(key: String, default: Boolean): Boolean =
    RewriteSupport.activeConf(key).map(v => v.toBooleanOption.getOrElse(
      throw new IllegalArgumentException(
        s"$key must be true or false, got '$v'")))
      .getOrElse(default)

  /** Bytes-per-row guess when plan stats carry no rowCount (no CBO
    * ANALYZE): deliberately on the small side — underestimating row
    * width overestimates the row count, which picks a SMALLER
    * fraction, which errs toward the affordable audit. */
  private val PreflightSampleEstRowBytes = 64L

  private def estimatedRows(p: LogicalPlan): BigInt =
    p.stats.rowCount.getOrElse(
      (p.stats.sizeInBytes / PreflightSampleEstRowBytes).max(BigInt(1)))

  /** Only TRUSTWORTHY stats may drive the sample gate: plans Spark cannot
    * size (LogicalRDD / foreachBatch frames, JDBC and other V1
    * relations that never override sizeInBytes) report the
    * `spark.sql.defaultSizeInBytes` sentinel, and treating that as a
    * real size would clear any byte floor AND produce a ~1e-12
    * fraction — an empty sample whose audit reads diagnosis=ok,
    * silently disarming a `preflight=fail` circuit breaker on exactly
    * the frames whose size nobody knows. A raw threshold on the TOP
    * plan's value is not enough: any Project over a statless leaf
    * scales the sentinel by a row-width ratio to an arbitrary
    * plausible-looking number. Trust is therefore judged PER LEAF,
    * where no operator has rescaled anything yet:
    *  - file relations (HadoopFsRelation), local data, and Range are
    *    measurements by construction;
    *  - every other leaf (DataSourceV2 tables, cached frames, JDBC,
    *    custom sources) is trusted iff it reports a rowCount or a size
    *    BELOW the sentinel band — a leaf sitting at the conf default
    *    (or near Long.MaxValue) is a declared unknown, not a 9-EB
    *    table. Modern table formats that report real statistics pass;
    *    declared-unknown leaves audit exactly. */
  private def leafTrusted(leaf: LogicalPlan): Boolean = leaf match {
    case lr: org.apache.spark.sql.execution.datasources.LogicalRelation
      if lr.relation.isInstanceOf[
        org.apache.spark.sql.execution.datasources.HadoopFsRelation] =>
      true
    case _: org.apache.spark.sql.catalyst.plans.logical
      .LocalRelation => true
    case _: org.apache.spark.sql.catalyst.plans.logical.Range => true
    case l =>
      val sentinel = BigInt(org.apache.spark.sql.internal.SQLConf
        .get.defaultSizeInBytes).min(BigInt(Long.MaxValue) >> 1)
      l.stats.rowCount.isDefined || l.stats.sizeInBytes < sentinel
  }

  private def statsTrusted(p: LogicalPlan): Boolean =
    p.stats.rowCount.isDefined || p.collectLeaves().forall(leafTrusted)

  /** The sample fraction a preflight over children `l` and `r` uses,
    * from their plan statistics alone; None audits exactly. It samples
    * when the larger child's `stats.sizeInBytes` reaches `minBytes` and
    * the larger side's estimated rows exceed `targetRows`, at
    * `targetRows / rows`, so the per-side sample is bounded regardless
    * of input scale. Row estimates use CBO rowCount when present, else
    * sizeInBytes over a conservative row-width guess. An unsizeable
    * child (untrusted stats) always audits exactly. Shares and diagnosis
    * are scale-invariant under sampling, so a sampled audit names the
    * exact audit's worst key whenever that key is frequent enough to be
    * sampled at all. Sampling still reads both children once; it removes
    * the explode, shuffle and count work on the unsampled rows. */
  private[plans] def preflightSample(l: LogicalPlan, r: LogicalPlan,
      minBytes: BigInt = PreflightSampleMinBytes,
      targetRows: Long = PreflightSampleTargetRows): Option[Double] =
    // an unsizeable child must audit EXACTLY, not clear the floor with a
    // fake size and then sample ~nothing
    if (!statsTrusted(l) || !statsTrusted(r)) None
    else if (l.stats.sizeInBytes.max(r.stats.sizeInBytes) < minBytes) None
    else {
      val rows = estimatedRows(l).max(estimatedRows(r))
      val f = targetRows.toDouble / rows.toDouble
      // a side already within the row budget audits exactly even above
      // the byte floor; with sentinels screened out above, the underflow
      // guard is belt-and-braces for absurd CBO rowCounts
      if (f >= 1.0) None else Some(math.max(f, 1e-12))
    }

  /** The provenance column both rules append to their audit-line specs
    * when (and only when) the sampled estimator is active. */
  private[plans] def sampleProvenanceCols(
      sample: Option[Double]): Seq[(String, Boolean)] =
    if (sample.isDefined) Seq("sample_fraction" -> false) else Nil
}
