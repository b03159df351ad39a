package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner, JoinType, LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** The skeleton both theta-join rewrites ([[HammingBlockJoinRewrite]],
  * [[SetOverlapJoinRewrite]]) share. A rule supplies its own decisions —
  * the conjunct parser, the candidate keys each side explodes, the
  * in-place pin, the recheck and the stand-down reasons — and this class
  * owns the join topologies they plug into:
  *  - the rule body: enable key, inner/cross versus semi/anti dispatch,
  *    the existing-equi-join skip, the stand-down report;
  *  - the two-phase floor;
  *  - one slim candidate side and the slim candidate join;
  *  - the two-phase inner pair list with its rowid back-joins;
  *  - the rowid-set semi/anti tail;
  *  - the in-place tagged semi collapse;
  *  - the conf-gated preflight hook.
  *
  * `tag` names the rule in stand-down and preflight lines; `compares`
  * names what the nested loop it replaces compares; `sampleGate` picks
  * the preflight's sample fraction from the join's children. */
private[plans] abstract class ThetaJoinRewrite(spark: SparkSession,
    tag: String, compares: String, enableKey: String,
    sampleGate: ThetaJoinRewrite.SampleGate)
    extends Rule[LogicalPlan] {
  import RewriteSupport._
  import ThetaJoinRewrite.{Probe, Slim}

  /** Inner/cross rewrite of a join no equi-conjunct links, or None. */
  protected def rewriteInner(j: Join, cs: Seq[Expression]): Option[LogicalPlan]

  /** LeftSemi/LeftAnti rewrite of a join no equi-conjunct links, or None. */
  protected def rewriteSemi(j: Join, cs: Seq[Expression]): Option[LogicalPlan]

  /** Why a join the rule did not rewrite stays a nested loop; empty when
    * its condition is not a near miss. */
  protected def standDownReasons(j: Join, cs: Seq[Expression]): Seq[String]

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!ScaleGuards.flag(enableKey, default = true)) return plan
    plan.transformUp {
      case j @ Join(l, r, jt, Some(cond), _) if j.resolved
          && (jt == Inner || jt == Cross || jt == LeftSemi || jt == LeftAnti) =>
        val cs = conjuncts(cond)
        if (hasEquiBetween(cs, l, r)) j
        else (if (jt == LeftSemi || jt == LeftAnti) rewriteSemi(j, cs)
          else rewriteInner(j, cs)).getOrElse {
          logStandDown(tag, j, compares, standDownReasons(j, cs),
            logWarning(_))
          j
        }
    }
  }

  /** The semi/anti stand-down both rules report when every conjunct gate
    * passed but the rowid topology could not be built. */
  protected def rowIdStandDown(jt: JoinType): String =
    s"${jt.sql} needs a STABLE rowid (no limits/samples below the " +
      "join input) and cheap scalar remaining conjuncts; one of " +
      "those is missing"

  /** The larger side's estimated size reaches
    * [[ScaleGuards.OverlapTwoPhaseMinBytesKey]], the one floor above
    * which both rules pick their two-phase topologies. A malformed value
    * fails planning with an error that names the key. */
  protected def bigEnoughForTwoPhase(l: LogicalPlan, r: LogicalPlan): Boolean = {
    val key = ScaleGuards.OverlapTwoPhaseMinBytesKey
    val floor = activeConf(key).map(v => v.toLongOption.getOrElse(
      throw new IllegalArgumentException(
        s"$key must be a whole number of bytes, got '$v'")))
      .getOrElse(ScaleGuards.OverlapTwoPhaseMinBytesDefault)
    l.stats.sizeInBytes.max(r.stats.sizeInBytes) >= BigInt(floor)
  }

  /** Deterministic and reading only scalar columns: cheap enough to ride
    * the slim candidate exchange. */
  protected def cheapScalar(c: Expression): Boolean =
    c.deterministic && c.references.forall(at => scalarType(at.dataType))

  /** The one slim candidate side: project `base` to `keep`, aliased
    * copies of the `side` columns `carried` reads, and `carry`; then run
    * `gen` with output `out`. Generator inputs outside `carry` are
    * dropped after the explode.
    *
    * The generator reads its input INLINE, never through an alias:
    * InferFiltersFromGenerate only infers size / isnotnull filters over
    * Attribute generator inputs (SPARK-36715), and predicate pushdown
    * would substitute an alias into those filters and re-evaluate the
    * whole shingling expression per row below the explode — measured as
    * 4× the entire query's runtime on d27 before this shape. */
  protected def slimSide(base: LogicalPlan, keep: Seq[Attribute],
      side: LogicalPlan, carried: Seq[Expression],
      carry: Seq[NamedExpression], gen: Generator, out: Seq[Attribute])
      : (LogicalPlan, Map[Attribute, Attribute]) = {
    val needed = carried.flatMap(_.references).distinct
      .filter(side.outputSet.contains)
    val aliased = needed.map(at => at -> Alias(at, at.name)())
    val kept = keep ++ aliased.map(_._2) ++ carry
    val carrySet = AttributeSet(carry.map(_.toAttribute))
    val proj = Project(kept ++ gen.references.toSeq.filterNot(carrySet.contains),
      base)
    val g = Generate(gen, (kept.size until proj.output.size).toList,
      outer = false, None, out, proj)
    (g, aliased.map { case (at, al) => at -> al.toAttribute }.toMap)
  }

  /** Join the two slim sides of `probe` on its matches plus the carried
    * conjuncts, rewritten onto the slim columns. */
  private def slimJoin(j: Join, jt: JoinType, probe: Probe,
      lBase: LogicalPlan, lKeep: Seq[Attribute],
      rBase: LogicalPlan, rKeep: Seq[Attribute],
      carried: Seq[Expression], hint: JoinHint): Join = {
    val sl = probe.side(lBase, lKeep, j.left, carried, left = true)
    val sr = probe.side(rBase, rKeep, j.right, carried, left = false)
    val subst = sl.subst ++ sr.subst
    val carriedSub = carried.map(_.transform {
      case at: Attribute if subst.contains(at) => subst(at)
    })
    Join(sl.plan, sr.plan, jt,
      Some((probe.matches(sl, sr) ++ carriedSub).reduce(And)), hint)
  }

  /** Distinct `(prid_l, prid_r)` pairs of the slim inner candidate join. */
  protected def candidatePairs(j: Join, probe: Probe,
      lNarrow: LogicalPlan, pridL: Attribute,
      rNarrow: LogicalPlan, pridR: Attribute,
      carried: Seq[Expression]): Aggregate =
    Aggregate(Seq(pridL, pridR), Seq(pridL, pridR),
      slimJoin(j, Inner, probe, lNarrow, Seq(pridL), rNarrow, Seq(pridR),
        carried, selfJoinHint(j.left, j.right, j.hint)))

  /** TWO-PHASE inner: slim candidate pairs (cheap scalar conjuncts prune
    * them inside the slim join), the distinct rowid pair list, both
    * payloads back-joined once per pair, then `recheck` and the heavy
    * conjuncts. Payloads cross the wire once per matching pair, never
    * once per candidate key. */
  protected def twoPhaseInner(j: Join, chosen: Expression, cs: Seq[Expression],
      probe: Probe, recheck: Option[Expression]): Option[LogicalPlan] = {
    val Join(l, r, _, _, _) = (j: @unchecked)
    val (cheap, heavy) = cs.filterNot(_ eq chosen).partition(cheapScalar)
    for {
      (lBack, ridL, lNarrow, pridL) <- leftRowIds(l)
      (rBack, ridR) <- withStableRowId(r, "graft_rid_r")
      (rNarrow, pridR) <- withStableRowId(r, "graft_prid_r")
    } yield {
      val pairs = candidatePairs(j, probe, lNarrow, pridL, rNarrow, pridR, cheap)
      val back1 = Join(lBack, pairs, Inner,
        Some(EqualTo(ridL, pridL)), JoinHint.NONE)
      val back2 = Join(back1, rBack, Inner,
        Some(EqualTo(pridR, ridR)), JoinHint.NONE)
      val out = (recheck.toSeq ++ heavy).reduceOption(And)
        .map(Filter(_, back2)).getOrElse(back2)
      Project(j.output, out)
    }
  }

  /** The left side tagged twice: `graft_rid_l` for the back join,
    * `graft_prid_l` for the slim probe. */
  private def leftRowIds(l: LogicalPlan)
      : Option[(LogicalPlan, Attribute, LogicalPlan, Attribute)] =
    for {
      (lBack, ridL) <- withStableRowId(l, "graft_rid_l")
      (lNarrow, pridL) <- withStableRowId(l, "graft_prid_l")
    } yield (lBack, ridL, lNarrow, pridL)

  /** The rowid-set semi/anti tail: `matched(lNarrow, pridL)` yields rows
    * carrying the prids of matching left rows; collapse them to distinct
    * prids and semi (or anti) join the tagged left side against them.
    * Semi keeps the matching rows, anti their complement — the rid set
    * is identical. */
  protected def rowIdSemi(j: Join)(
      matched: (LogicalPlan, Attribute) => Option[LogicalPlan])
      : Option[LogicalPlan] =
    for {
      (lBack, ridL, lNarrow, pridL) <- leftRowIds(j.left)
      m <- matched(lNarrow, pridL)
    } yield Project(j.output, Join(lBack,
      Aggregate(Seq(pridL), Seq(pridL), m), j.joinType,
      Some(EqualTo(ridL, pridL)), JoinHint.NONE))

  /** [[rowIdSemi]] over a slim LeftSemi probe: the left payload crosses
    * the wire once per row, never once per candidate key. */
  protected def twoPhaseSemi(j: Join, probe: Probe, rest: Seq[Expression],
      hint: JoinHint): Option[LogicalPlan] =
    rowIdSemi(j) { (lNarrow, pridL) =>
      Some(slimJoin(j, LeftSemi, probe, lNarrow, Seq(pridL), j.right, Nil,
        rest, hint))
    }

  /** `child` exploded by a generator into its output attributes,
    * keeping every child column. */
  protected def explode(gen: (Generator, Seq[Attribute]),
      child: LogicalPlan): Generate =
    Generate(gen._1, Nil, outer = false, None, gen._2, child)

  /** IN-PLACE inner: both full sides explode and equi-join on `cond`,
    * whose pin emits each qualifying pair exactly once. */
  protected def inPlaceInner(j: Join, genL: (Generator, Seq[Attribute]),
      genR: (Generator, Seq[Attribute]), cond: Seq[Expression]): LogicalPlan =
    Project(j.output, Join(explode(genL, j.left),
      explode(genR, j.right), Inner, Some(cond.reduce(And)),
      selfJoinHint(j.left, j.right, j.hint)))

  /** Single-instantiation semi: tag left rows with a plain unique id (no
    * order-stability needed — the tagged plan is evaluated once), explode
    * them by `genL`, LeftSemi against `right` on `cond` (semi's
    * ∃-semantics make duplicate matches free), then collapse each row's
    * surviving copies on the id (payloads ride First — see
    * [[RewriteSupport.collapseBySrid]]). */
  protected def inPlaceSemi(j: Join, genL: (Generator, Seq[Attribute]),
      right: LogicalPlan, cond: Seq[Expression], hint: JoinHint): LogicalPlan = {
    val l = j.left
    val srid = Alias(MonotonicallyIncreasingID(), "graft_srid")()
    val tagged = explode(genL, Project(l.output :+ srid, l))
    val semi = Join(tagged, right, LeftSemi, Some(cond.reduce(And)), hint)
    Project(j.output, collapseBySrid(srid.toAttribute, l.output, semi))
  }

  /** On a fired rewrite, the family's skew audit over the join's own
    * children: `report(left, a, right, b, sampleFraction)` runs the
    * family's SkewTools preflight, logged in `cols` order (plus the
    * sample provenance column when sampling). The sample decision is
    * `sampleGate`'s. The conf gate and streaming skip are
    * [[RewriteSupport.preflightMode]]; boxed BIGINT reads and the
    * best-effort catch are [[RewriteSupport.logPreflight]]. */
  protected def preflight(l: LogicalPlan, r: LogicalPlan,
      a: Expression, b: Expression, cols: Seq[(String, Boolean)])(
      report: (DataFrame, Column, DataFrame, Column, Double) => DataFrame)
      : Unit = preflightMode(l, r).foreach { mode =>
    val sample = sampleGate(l, r)
    logPreflight(mode, s"$tag rewrite",
      cols ++ ScaleGuards.sampleProvenanceCols(sample), logWarning(_)) {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      report(ColumnBridge.dataFrame(spark, l), ColumnBridge.column(a),
        ColumnBridge.dataFrame(spark, r), ColumnBridge.column(b),
        sample.getOrElse(1.0))
    }
  }
}

private[plans] object ThetaJoinRewrite {
  /** Picks a preflight's sample fraction from the join's two children;
    * None audits exactly. */
  type SampleGate = (LogicalPlan, LogicalPlan) => Option[Double]

  /** The gate every registered rule uses: plan statistics against the
    * default floor and row target ([[ScaleGuards.preflightSample]]). */
  val StatsGate: SampleGate = ScaleGuards.preflightSample(_, _)

  /** One side of a slim candidate join: the exploded plan, the keys the
    * rule's [[Probe.matches]] joins on, and the original→alias
    * substitution for the carried conjuncts. */
  final case class Slim(plan: LogicalPlan, keys: Seq[Expression],
      subst: Map[Attribute, Attribute])

  /** How a rule turns a tagged side into slim candidate rows. */
  trait Probe {
    /** Explode `base`, a row-id tagging of the join side `side`, keeping
      * `keep` and the columns `carried` reads. */
    def side(base: LogicalPlan, keep: Seq[Attribute], side: LogicalPlan,
        carried: Seq[Expression], left: Boolean): Slim

    def matches(l: Slim, r: Slim): Seq[Expression] =
      l.keys.zip(r.keys).map { case (x, y) => EqualTo(x, y) }
  }
}
