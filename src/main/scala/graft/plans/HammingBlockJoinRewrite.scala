package graft.plans

import graft.functions.HammingDistance
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType, LongType, StringType}

/** Exact pigeonhole rewrite for Hamming-threshold joins (SURVEY §7.2's
  * "custom Rule" tier, the whole-operator optimization beside the
  * engine's custom Expressions): a join whose only cross-side predicate
  * is `hamming64(a, b) <= k` would plan as a nested-loop cartesian —
  * |L|·|R| fingerprint comparisons, the shape that never finishes at
  * 100 TB. But if two 64-bit codes differ in ≤ k bits, then splitting
  * the code into k+1 disjoint blocks forces AT LEAST ONE block to be
  * bit-identical (pigeonhole), so the join is EXACTLY equivalent to an
  * equi-join on block values — each side posexplodes its k+1 (index,
  * block) rows and the join keys on (index, block), a plain shuffled
  * hash join costing O(block collisions). Every qualifying pair is
  * emitted exactly once: the match at index i additionally requires
  * blocks 0..i−1 to DIFFER, so a pair surfaces only from its first
  * matching block (no dedup aggregate, so row multiplicities are
  * preserved verbatim — the rewrite is a strict plan-level identity,
  * HammingRewriteSpec proves result equality).
  *
  * SELF-CONTAINED single-scan shape (round 7; was a Union of k+1
  * two-sided joins before): the union form re-planned the same children
  * under every branch, so each input was scanned — and its fingerprint
  * expressions recomputed — k+1 times unless the caller happened to
  * `.cache()` first. The posexplode form reads each input ONCE,
  * replicates rows (k+1)× inside the exchange, and runs ONE join — no
  * caching contract leaks to the user, and AQE sees a single join to
  * skew-split. HammingRewriteSpec pins single-scan-per-side.
  *
  * WIDE-PAYLOAD inner joins (round 8) take a TWO-PHASE pair-list
  * instead: when a child exposes any variable-width column (string /
  * binary / container), the (k+1)× replication would ship it through
  * the exchange once per block — so the rule explodes only `(rowid,
  * fingerprint, block)` slim rows, verifies the Hamming bound on the
  * carried 8-byte fingerprints inside the slim join (the distinct
  * rowid pairs are then already exact — no first-match pin at all),
  * and back-joins payloads once per matching pair
  * ([[ThetaJoinRewrite.twoPhaseInner]]). All-fixed-width rows (d25's
  * id+fingerprint) keep the in-place form, whose exploded rows are
  * already minimal.
  *
  * LEFT SEMI joins — `corpus.join(banned, hamming64(fp, bfp) <= k,
  * "left_semi")`, the fingerprint-decontamination shape — are also
  * rewritten (round 8). Semi needs NO first-match pin (∃-semantics
  * dedup partners for free); it needs each left row back exactly once:
  *  - two-phase (stable rowid on the left, large input, remaining
  *    conjuncts scalar — see [[RewriteSupport.withStableRowId]]):
  *    posexplode only `(rowid, fingerprint, block)` slim rows, LeftSemi
  *    on (index, block) with the Hamming bound verified on the carried
  *    8-byte fingerprints (exact in the slim join — nothing re-checked
  *    later), collapse to distinct rowids, LeftSemi the tagged left
  *    side against them: the left payload crosses the wire once per
  *    row, never once per block;
  *  - in-place otherwise: tag left rows with a plain unique id (single
  *    instantiation — no order-stability needed), posexplode over the
  *    full rows, LeftSemi with the original predicate, collapse
  *    grouping on the id ALONE with payloads riding `first()`
  *    ([[RewriteSupport.collapseBySrid]] — map-typed payloads group
  *    fine this way, float payloads keep their exact bits).
  *
  * This automates the d04 `simhashNearDups` topology for ANY user query
  * on a [[graft.functions.GraftExtensions]] session — write the naive
  * predicate, get the scalable plan. Fires only when: a `hamming64 ≤ k`
  * conjunct (any comparison spelling) spans the two sides with k ≤ 15
  * (beyond that, 4-bit blocks collide too often to help), and no
  * equi-conjunct already links the sides (an existing equi-join is
  * already O(collisions); this also makes the rewrite a fixed point —
  * its own output joins on block equality).
  * Default ON; disable with `spark.graft.hammingBlockJoinRewrite=false`.
  */
class HammingBlockJoinRewrite private[plans] (spark: SparkSession,
    sampleGate: ThetaJoinRewrite.SampleGate)
    extends ThetaJoinRewrite(spark, "hamming-block", "popcount compares",
      ScaleGuards.HammingBlockJoinRewriteKey, sampleGate) {
  def this(spark: SparkSession) = this(spark, ThetaJoinRewrite.StatsGate)
  import RewriteSupport._
  import ThetaJoinRewrite.{Probe, Slim}

  /** `hamming64(a, b)` — or its builtin pure-SQL twin
    * `bit_count(a ^ b)`, so the rewrite rescues queries written with no
    * graft import at all. Identical semantics for BIGINT inputs
    * (null-propagating popcount of the XOR). */
  private object Hamm {
    def unapply(e: Expression): Option[(Expression, Expression)] = e match {
      case HammingDistance(a, b) => Some((a, b))
      case BitwiseCount(BitwiseXor(a, b)) => Some((a, b))
      case _ => None
    }
  }

  /** The four UPPER-bound comparison spellings of `hamming64(a,b) ≤ k`
    * with the EFFECTIVE radius (strict spellings bound k−1) — the ONE
    * parser shared by the rewrite matcher and the stand-down
    * diagnostics, so what fires and what gets diagnosed can never
    * drift. Gates (radius range, BIGINT types, orientation) are applied
    * by the callers: the rewrite requires them, the diagnostics REPORT
    * their violation. */
  private def upperBoundOf(c: Expression)
      : Option[(Expression, Expression, Int)] = c match {
    case LessThanOrEqual(Hamm(a, b), Literal(k: Int, IntegerType)) =>
      Some((a, b, k))
    case LessThan(Hamm(a, b), Literal(k: Int, IntegerType)) =>
      Some((a, b, k - 1))
    case GreaterThanOrEqual(Literal(k: Int, IntegerType), Hamm(a, b)) =>
      Some((a, b, k))
    case GreaterThan(Literal(k: Int, IntegerType), Hamm(a, b)) =>
      Some((a, b, k - 1))
    case _ => None
  }

  /** The first `hamming64(a,b) ≤ k` conjunct (any comparison spelling)
    * that ORIENTS across the two sides — a same-side conjunct ahead of
    * the real cross-side one no longer defeats the rewrite. Returns
    * (conjunct, a = left side, b = right side, k). */
  private def hammingBound(cs: Seq[Expression],
      l: LogicalPlan, r: LogicalPlan)
      : Option[(Expression, Expression, Expression, Int)] =
    cs.iterator.flatMap { c =>
      upperBoundOf(c).filter { case (a, b, k) =>
        k >= 0 && k <= 15 && a.dataType == LongType && b.dataType == LongType
      }.flatMap { case (a, b, k) =>
        oriented(a, b, l, r).map { case (ao, bo) => (c, ao, bo, k) }
      }
    }.nextOption()

  private def blockOf(x: Expression, offset: Int, width: Int): Expression = {
    val shifted =
      if (offset == 0) x else ShiftRightUnsigned(x, Literal(offset))
    if (width >= 64) shifted
    else BitwiseAnd(shifted, Literal((1L << width) - 1L))
  }

  /** The candidate keys: posexplode of `x`'s k+1 blocks into
    * `(graft_bidx_<side>, graft_bval_<side>)` rows. */
  private def blocks(x: Expression, k: Int, side: String)
      : (Generator, Seq[Attribute]) = {
    val (n, widths, offsets) = HammingBlockJoinRewrite.layout(k)
    val pos = AttributeReference(s"graft_bidx_$side", IntegerType,
      nullable = false)()
    val bval = AttributeReference(s"graft_bval_$side", LongType)()
    (PosExplode(CreateArray((0 until n).map(i =>
      blockOf(x, offsets(i), widths(i))))), Seq(pos, bval))
  }

  /** Slim `(prid, fingerprint, cheap cols, index, block)` rows; the
    * Hamming bound verifies inside the slim join on the carried 8-byte
    * fingerprints, so the distinct rowid pairs are already exact — no
    * first-match pin and no recheck. */
  private def blockProbe(a: Expression, b: Expression, k: Int): Probe =
    new Probe {
      def side(base: LogicalPlan, keep: Seq[Attribute], side: LogicalPlan,
          carried: Seq[Expression], left: Boolean): Slim = {
        val s = if (left) "l" else "r"
        val fpA = Alias(if (left) a else b, s"graft_fp_$s")()
        val (gen, out) = blocks(fpA.toAttribute, k, s)
        val (plan, subst) =
          slimSide(base, keep, side, carried, Seq(fpA), gen, out)
        Slim(plan, out :+ fpA.toAttribute, subst)
      }
      override def matches(l: Slim, r: Slim): Seq[Expression] =
        Seq(EqualTo(l.keys(0), r.keys(0)), EqualTo(l.keys(1), r.keys(1)),
          LessThanOrEqual(HammingDistance(l.keys(2), r.keys(2)), Literal(k)))
    }

  /** A join whose condition LOOKS like a hamming bound but fails a gate
    * (non-BIGINT fingerprints, k outside [0, 15]) is left on a silent
    * nested-loop plan — name the disqualifier. A bound that passed every
    * gate stood down on its semi/anti topology. Pure structural scan. */
  override protected def standDownReasons(j: Join,
      cs: Seq[Expression]): Seq[String] = {
    val Join(l, r, jt, _, _) = (j: @unchecked)
    if (hammingBound(cs, l, r).isDefined)
      return Seq(
        if (l.isStreaming || r.isStreaming)
          "a streaming child keeps the supported stream-static " +
            "nested-loop shape"
        else rowIdStandDown(jt))
    val crossSides = RewriteSupport.crossSides(l, r) _
    val hits = scala.collection.mutable.LinkedHashSet.empty[String]
    // TOP-LEVEL conjuncts only — exactly where hammingBound looks. A
    // bound nested under OR/NOT/CASE is not a near-miss: no gate fix
    // can make the rewrite serve it, so advising one would be wrong
    // (and a lower-bound far-pairs predicate never parses at all —
    // upperBoundOf is the rewrite's own shared parser)
    cs.foreach { c =>
      upperBoundOf(c).filter { case (a, b, _) => crossSides(a, b) }
        .foreach { case (a, b, k) =>
          if (a.dataType != LongType || b.dataType != LongType)
            hits += (s"fingerprints are ${a.dataType.simpleString}/" +
              s"${b.dataType.simpleString}, not BIGINT — cast both sides " +
              "to LONG so the pigeonhole blocks cover all 64 bits")
          else if (k > 15)
            hits += (s"effective radius k=$k exceeds 15: the block join " +
              "explodes k+1 copies per row and past 15 the candidate " +
              "volume defeats the rewrite — tighten the radius or " +
              "pre-bucket")
          else if (k < 0) {
            // any negative effective radius is vacuously FALSE
            // (hamming64 is non-negative): the nested loop it stays on
            // selects nothing — harmless at any scale, but almost
            // certainly a spelling mistake worth one named warning.
            // Name the LIKELY typo precisely: only a strict comparison
            // against literal 0 (`< 0` / `0 >`, effective k = -1) points
            // at the operator — and the suggested replacement must match
            // the operator the user actually WROTE (`<` → `<=`, `>` →
            // `>=`; suggesting `<=` for a `0 > hamming` spelling names a
            // token the query does not contain, and following it
            // literally would build the tautology `0 <= hamming`). A
            // negative literal (`<= -1`, `< -2`) is the radius itself
            // mistyped.
            val fix = c match {
              case _: LessThan if k == -1    => "did you mean <= ?"
              case _: GreaterThan if k == -1 => "did you mean >= ?"
              case _ => "the radius literal is negative"
            }
            hits += (s"the bound is vacuously false (effective k=$k): " +
              s"hamming64 is never negative, so the join returns nothing " +
              s"— $fix")
          }
        }
    }
    hits.toSeq
  }

  /** [[ScaleGuards.PreflightKey]] = warn: on rewrite fire, the
    * d41 hot-block audit — (block-index, block-value) frequencies. */
  private def audit(l: LogicalPlan, r: LogicalPlan,
      a: Expression, b: Expression, k: Int): Unit =
    preflight(l, r, a, b,
      Seq("est_candidate_rows" -> true, "worst_block_index" -> false,
        "worst_block_value" -> false, "max_block_rows" -> true,
        "max_share_bp" -> false, "diagnosis" -> false)) {
      (dl, ca, dr, cb, f) => graft.operators.SkewTools.hammingJoinPreflight(
        dl, ca, dr, cb, k, sampleFraction = f)
    }

  /** A type whose in-row width is unbounded — when the join's children
    * expose any of these, the in-place posexplode replicates it (k+1)×
    * through the exchange and the two-phase pair-list is the scale
    * shape; all-fixed-width rows (d25's id+fingerprint) stay in-place,
    * where the explode rows are already minimal and two-phase would
    * only add the pair-distinct and back-join stages. */
  private def wideType(dt: DataType): Boolean = dt match {
    case StringType | BinaryType => true
    case _ => !scalarType(dt)
  }

  override protected def rewriteInner(j: Join,
      cs: Seq[Expression]): Option[LogicalPlan] = {
    val Join(l, r, _, Some(cond), _) = (j: @unchecked)
    hammingBound(cs, l, r).map { case (chosen, a, b, k) =>
      audit(l, r, a, b, k)
      val widePayload =
        (l.output ++ r.output).exists(at => wideType(at.dataType))
      val twoPhase =
        if (widePayload && !l.isStreaming && !r.isStreaming
            && bigEnoughForTwoPhase(l, r))
          twoPhaseInner(j, chosen, cs, blockProbe(a, b, k), recheck = None)
        else None
      twoPhase.getOrElse {
        val (genL, genR) = (blocks(a, k, "l"), blocks(b, k, "r"))
        val (posL, valL) = (genL._2(0), genL._2(1))
        val (_, widths, offsets) = HammingBlockJoinRewrite.layout(k)
        // first-match-only: blocks before the matched index differ
        // (for p ≥ index the conjunct is vacuously true)
        val priorDiffer = (0 until k).map(p =>
          Or(GreaterThanOrEqual(Literal(p), posL),
            Not(EqualTo(blockOf(a, offsets(p), widths(p)),
              blockOf(b, offsets(p), widths(p))))))
        inPlaceInner(j, genL, genR, Seq(EqualTo(posL, genR._2(0)),
          EqualTo(valL, genR._2(1))) ++ priorDiffer :+ cond)
      }
    }
  }

  /** Semi = "report the contaminated rows", anti = "keep the clean
    * corpus": both reduce to the same matching-rowid set, the back
    * join's type decides which side survives. LeftAnti has no in-place
    * fallback (its collapse is not a group-by over survivors), so
    * without a stable rowid the rule stands down. */
  override protected def rewriteSemi(j: Join,
      cs: Seq[Expression]): Option[LogicalPlan] = {
    val Join(l, r, jt, _, hint) = (j: @unchecked)
    hammingBound(cs, l, r).flatMap { case (chosen, a, b, k) =>
      val rest = cs.filterNot(_ eq chosen)
      val twoPhase =
        if (rest.forall(cheapScalar) && !l.isStreaming && !r.isStreaming
            && (jt == LeftAnti || bigEnoughForTwoPhase(l, r)))
          twoPhaseSemi(j, blockProbe(a, b, k), rest, selfJoinHint(l, r, hint))
        else None
      // the in-place collapse is a group-by over the exploded left side —
      // on a streaming plan that would smuggle a stateful aggregate into
      // a stateless semi join, so it stands down there
      val fired = twoPhase.orElse(
        if (jt == LeftSemi && !j.isStreaming) Some {
          val (genL, genR) = (blocks(a, k, "l"), blocks(b, k, "r"))
          inPlaceSemi(j, genL, explode(genR, r),
            Seq(EqualTo(genL._2(0), genR._2(0)),
              EqualTo(genL._2(1), genR._2(1))) ++ cs,
            selfJoinHint(l, r, hint))
        }
        else None)
      if (fired.isDefined) audit(l, r, a, b, k)
      fired
    }
  }
}

object HammingBlockJoinRewrite {
  /** Disjoint k+1 block layout over the 64 bits: `(n, widths, offsets)`
    * with `widths` summing to exactly 64. The SINGLE source for the
    * pigeonhole partition — the rule's posexplode sides and
    * [[graft.operators.SkewTools.hammingJoinPreflight]]'s pricing must
    * slice identically or the preflight prices a different join than
    * the one that runs. */
  def layout(k: Int): (Int, IndexedSeq[Int], IndexedSeq[Int]) = {
    val n = k + 1
    val base = 64 / n
    val rem = 64 % n
    val widths = (0 until n).map(i => base + (if (i < rem) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    (n, widths, offsets)
  }
}
