package graft.plans

import org.apache.spark.sql.catalyst.expressions.WindowExpression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.SparkSession

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
class FailUnpartitionedWindows(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val enabled = spark.conf
      .getOption(ScaleGuards.FailUnpartitionedWindowsKey)
      .exists(_.equalsIgnoreCase("true"))
    if (enabled) {
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
class FailCartesianProducts(spark: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
  import org.apache.spark.sql.catalyst.plans.logical.Join
  import org.apache.spark.sql.catalyst.plans.logical.BROADCAST

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val enabled = spark.conf
      .getOption(ScaleGuards.FailCartesianProductsKey)
      .exists(_.equalsIgnoreCase("true"))
    if (enabled) {
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

  /** Opt-in hot-element diagnosis at rewrite time: set to `warn` and
    * every overlap-rewrite fire runs [[graft.operators.SkewTools
    * .overlapJoinPreflight]] over the join's own children and logs the
    * Σ fL·fR candidate estimate with the worst element named — the d31
    * audit, applied automatically. Set to `fail` and a non-'ok'
    * diagnosis additionally ABORTS planning with
    * [[graft.plans.PreflightAbort]] carrying the full audit line — the
    * circuit breaker for deployments where a hot-key join is cheaper to
    * refuse than to run ('ok' audits proceed; a preflight that itself
    * errors only warns, under either mode). Default off (unset or
    * `off`; any other value fails planning): the preflight is a real
    * (small — rows = distinct elements) Spark job at planning time. */
  val OverlapPreflightKey = "spark.graft.overlapJoinRewrite.preflight"

  /** Same contract (`warn` / `fail`) for the Hamming block rule: every
    * fire runs [[graft.operators.SkewTools.hammingJoinPreflight]] over
    * the join's children — Σ fL·fR over (block-index, block-value)
    * frequencies, worst block named (the d41 audit, applied
    * automatically). Separate key so a skew-priced overlap deployment
    * can leave the (cheaper, 2^width-bounded) hamming audit off or vice
    * versa. */
  val HammingPreflightKey = "spark.graft.hammingBlockJoinRewrite.preflight"

  /** Sampling rate for the preflight audits, per rule family: a value
    * in (0, 1) Bernoulli-samples both join children at that rate before
    * counting frequencies (distinct fixed seeds per side), scales the
    * absolute row estimates back by 1/f², and stamps the audit line
    * with `sample_fraction=f` provenance. Shares and diagnosis are
    * scale-invariant (every contribution carries the same f² factor),
    * so the sampled audit names the SAME worst key and diagnosis as the
    * exact one whenever the key is frequent enough to be sampled at
    * all — and a key too rare to sample is too rare to dominate. This
    * is what makes `preflight=warn` an affordable ALWAYS-ON default at
    * 100 TB, where the exact audit is itself a full scan + explode of
    * both children at planning time. Honest cost accounting: Bernoulli
    * sampling is a post-scan coin flip, so the audit still READS both
    * children once (column-pruned to the join keys) — what the sample
    * removes is the explode, shuffle, and count-table work on 1−f of
    * the rows, which is where the exact audit's cost concentrates (the
    * explode multiplies rows by elements/blocks; the scan does not).
    * Any EXPLICIT value outside (0, 1) means exact — the operator's
    * deliberate request (a sampled abort under `fail` mode refuses a
    * join on an estimate). UNSET, the decision falls to the stats
    * floor below ([[OverlapPreflightAutoSampleMinBytesKey]]): small
    * inputs audit exactly, big inputs auto-sample. */
  val OverlapPreflightSampleKey =
    "spark.graft.overlapJoinRewrite.preflight.sampleFraction"
  val HammingPreflightSampleKey =
    "spark.graft.hammingBlockJoinRewrite.preflight.sampleFraction"

  /** Stats floor (bytes, larger join child) above which an UNSET
    * sampleFraction auto-engages the sampled estimator — the 100 TB
    * default. Without this gate the always-on `preflight=warn` story
    * silently priced every large join with the EXACT audit (full
    * scan + explode of both children at planning time) unless the
    * operator remembered the sampleFraction conf — and the operator
    * who most needs the circuit breaker is the least likely to have
    * set it. Same `sizeInBytes`-floor pattern as
    * [[OverlapTwoPhaseMinBytesKey]]: LocalRelation/test fixtures
    * estimate ~KB..MB and stay exact (d31/d41's oracle schemas carry
    * no provenance column), real big-data relations estimate ≈ file
    * bytes and sample. Per rule family, like the sample keys. */
  val OverlapPreflightAutoSampleMinBytesKey =
    "spark.graft.overlapJoinRewrite.preflight.autoSampleMinBytes"
  val HammingPreflightAutoSampleMinBytesKey =
    "spark.graft.hammingBlockJoinRewrite.preflight.autoSampleMinBytes"
  val PreflightAutoSampleMinBytesDefault: Long = 4L * 1024 * 1024 * 1024

  /** Per-side row budget the auto-picked fraction targets (shared by
    * both families — the policy "how many rows make a reliable
    * frequency estimate" is rule-independent). ~1M rows keeps the
    * audit a sub-second job at any scale while sampling every key
    * frequent enough to matter (a key that misses a 1M-row sample
    * entirely cannot dominate Σ fL·fR). */
  val PreflightAutoSampleTargetRowsKey =
    "spark.graft.preflight.autoSampleTargetRows"
  val PreflightAutoSampleTargetRowsDefault: Long = 1000000L

  /** Bytes-per-row guess when plan stats carry no rowCount (no CBO
    * ANALYZE): deliberately on the small side — underestimating row
    * width overestimates the row count, which picks a SMALLER
    * fraction, which errs toward the affordable audit. */
  private val PreflightAutoSampleEstRowBytes = 64L

  private def estimatedRows(p: LogicalPlan): BigInt =
    p.stats.rowCount.getOrElse(
      (p.stats.sizeInBytes / PreflightAutoSampleEstRowBytes).max(BigInt(1)))

  /** Only TRUSTWORTHY stats may drive the auto gate: plans Spark cannot
    * size (LogicalRDD / foreachBatch frames, JDBC and other V1
    * relations that never override sizeInBytes) report the
    * `spark.sql.defaultSizeInBytes` sentinel, and treating that as a
    * real size would clear any byte floor AND produce a ~1e-12 auto
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
    *    declared-unknown leaves fall back to the conservative pre-auto
    *    behavior: exact. */
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

  /** The sampling decision a preflight actually uses. Precedence:
    *  1. An explicitly SET and PARSEABLE sampleFraction conf wins
    *     verbatim — a valid (0,1) value samples at that rate; any other
    *     parseable explicit value (e.g. `1.0`) is the operator's
    *     deliberate exact request and disables the auto gate too. A
    *     MALFORMED explicit value (`0.5x` typo) warns and falls through
    *     to the auto gate: the operator was plainly trying to ENABLE
    *     sampling, and honoring the typo as "deliberate exact" would
    *     silently disable both the requested sampling and the default —
    *     the most surprising reading of the mistake (same degrade rule
    *     as Bench's malformed env knobs).
    *  2. Unset (or unparseable), with the larger child's
    *     `stats.sizeInBytes` at or above the family's autoSampleMinBytes
    *     floor: auto-pick `targetRows / max(est rows per side)`, so the
    *     per-side sample is bounded regardless of input scale. Row
    *     estimates use CBO rowCount when present, else sizeInBytes over
    *     a conservative row-width guess. A malformed floor or target
    *     fails planning, naming its key.
    *  3. Otherwise exact (None) — small inputs keep the provenance-free
    *     audit schema the d31/d41 oracles pin. */
  private[plans] def effectivePreflightSample(sampleKey: String,
      autoMinBytesKey: String, l: LogicalPlan, r: LogicalPlan)
      : Option[Double] = {
    val explicit = RewriteSupport.activeConf(sampleKey)
    val parsed = explicit.flatMap(_.toDoubleOption)
    if (explicit.isDefined && parsed.isEmpty)
      System.err.println(s"[graft] ignoring malformed $sampleKey=" +
        s"'${explicit.get}' (not a number) — falling through to the " +
        "auto-sample gate")
    if (parsed.isDefined)
      parsed.filter(f => f > 0.0 && f < 1.0)
    else {
      val minBytes = autoSampleConf(autoMinBytesKey, 0L,
        PreflightAutoSampleMinBytesDefault)
      val target = autoSampleConf(PreflightAutoSampleTargetRowsKey, 1L,
        PreflightAutoSampleTargetRowsDefault)
      // an unsizeable child (stats untrusted) must audit EXACTLY, not
      // clear the floor with a fake size and then sample ~nothing
      if (!statsTrusted(l) || !statsTrusted(r)) None
      else if (l.stats.sizeInBytes.max(r.stats.sizeInBytes) < minBytes) None
      else {
        val rows = estimatedRows(l).max(estimatedRows(r))
        val f = target.toDouble / rows.toDouble
        // a side already within the row budget audits exactly even
        // above the byte floor; with sentinels screened out above, the
        // underflow guard is belt-and-braces for absurd CBO rowCounts
        if (f >= 1.0) None else Some(math.max(f, 1e-12))
      }
    }
  }

  /** An auto-sample knob: `key`'s whole-number value, at least `min`, or
    * `default` when unset. Any other value fails planning with an error
    * that names the key. */
  private def autoSampleConf(key: String, min: Long, default: Long): Long =
    RewriteSupport.activeConf(key).map(v => v.toLongOption.filter(_ >= min)
      .getOrElse(throw new IllegalArgumentException(
        s"$key must be a whole number >= $min, got '$v'")))
      .getOrElse(default)

  /** The provenance column both rules append to their audit-line specs
    * when (and only when) the sampled estimator is active. */
  private[plans] def sampleProvenanceCols(
      sample: Option[Double]): Seq[(String, Boolean)] =
    if (sample.isDefined) Seq("sample_fraction" -> false) else Nil
}
