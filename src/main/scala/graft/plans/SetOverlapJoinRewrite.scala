package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.types.{ArrayType, Decimal, DecimalType, DoubleType, FloatType, IntegerType, LongType, MapType, StringType, StructType}

/** Exact explode rewrite for set-overlap theta joins — the companion of
  * [[HammingBlockJoinRewrite]], automating d02's group-and-expand
  * topology for naive user queries: a join whose only cross-side
  * predicate is `arrays_overlap(a, b)` (or an intersect-size threshold,
  * see below) plans as a nested-loop cartesian — |L|·|R| array
  * comparisons. But any qualifying pair shares at least one element
  * (the same pigeonhole identity as the Hamming blocks), so the join is
  * EXACTLY equivalent to exploding the distinct elements of each side
  * and equi-joining on the element — a plain shuffled hash join costing
  * O(element collisions).
  *
  * TWO topologies, chosen by estimated input size:
  *
  * IN-PLACE (small inputs): explode both sides' distinct elements over
  * the full rows and equi-join on the element. Every qualifying pair is
  * emitted exactly once: the match is additionally pinned to the pair's
  * MINIMUM non-null common element (`ea = array_min(array_intersect(a,
  * b))`), so of the possibly-many shared elements exactly one produces
  * the row — no dedup aggregate, row multiplicities preserved verbatim.
  * The exchange carries each row's full payload (arrays included) once
  * PER ELEMENT — O(|arr|²) bytes per row — which is fine below the
  * [[ScaleGuards.OverlapTwoPhaseMinBytesKey]] floor and ruinous above
  * it.
  *
  * TWO-PHASE (large inputs — the 100 TB shape, d02's own topology):
  *  1. tag each side's rows with a reproducible rowid
  *     ([[RewriteSupport.withStableRowId]]);
  *  2. explode ONLY `(rowid, xxhash64(element))` — 16-byte candidate
  *     rows, plus any scalar columns that cross-side non-array
  *     conjuncts need (so e.g. an `a_id < b_id` dedup-ordering prunes
  *     candidates before they cost anything);
  *  3. equi-join the hashes, apply those scalar conjuncts, and collapse
  *     to DISTINCT `(rowid_l, rowid_r)` pairs (partial aggregation
  *     dedups map-side);
  *  4. join the pair-list back to each tagged side on its rowid (the
  *     full payloads now cross the wire ONCE per matching pair, not
  *     once per element), and re-apply the ORIGINAL predicate raw.
  * The raw re-application makes the topology exact — not
  * probabilistic: hash collisions only ever ADD candidate pairs, and
  * the final `arrays_overlap`/threshold evaluation removes them. Each
  * qualifying pair appears exactly once (rowids are unique, the
  * pair-list is distinct), so multiplicities are preserved verbatim.
  * Falls back to IN-PLACE when no order-stable rowid insertion point
  * exists (see [[RewriteSupport.withStableRowId]]), when a side is
  * streaming, or for float/double elements (hash/equality disagree on
  * NaN families).
  *
  * Null exactness (both topologies) mirrors `arrays_overlap`'s own
  * contract: TRUE only when a non-null common element exists (null-only
  * overlap yields NULL → the pair is rejected); exploded equi-joins
  * never match null elements, and the two-phase hash explode drops
  * nulls before hashing.
  *
  * Accepted conjunct spellings:
  *  - `arrays_overlap(a, b)` — exact for any atomic element type,
  *    nullable elements included (per the argument above);
  *  - `size(array_intersect(a, b)) >= k` with k ≥ 1 (and the >, and
  *    reversed-literal, spellings) — here `size` COUNTS a shared null,
  *    so this form fires only when the array types are statically
  *    null-free (`containsNull = false`); the full threshold predicate
  *    is re-applied after the equi-join. For k ≥ 2 both sides explode
  *    only their SSJoin PREFIX — the smallest (size − k + 1) distinct
  *    elements in ascending order ([[RewriteSupport.prefixElems]]'s
  *    c-th-largest-common-element lemma guarantees a shared prefix
  *    element for every qualifying pair) — cutting exploded rows and
  *    candidate pairs roughly quadratically as k grows.
  *  - `size(array_intersect(a, b)) > τ · size(array_union(a, b))` with
  *    a literal τ ≥ 0 — the naive STRICT-Jaccard near-dup spelling
  *    (operand order, comparison direction, and the analyzer's casts
  *    all normalized). Strict `>` excludes the empty-empty pair (0 > 0
  *    fails), so a qualifying pair always has a non-null witness.
  *    Prefix bound per row:
  *    |∩| > τ·|∪| ≥ τ·|A| ⇒ |∩| ≥ floor(τ·|A|) + 1, evaluated in the
  *    predicate's own double arithmetic (multiplication is monotone in
  *    |∪| ≥ |A|, so the bound is exact, not approximate).
  *  - the `>=` spelling with a literal τ > 0: its qualifying pairs
  *    split EXACTLY into witnessed pairs (|∩| ≥ 1 — per-row bound
  *    c_row = max(ceil(τ·|A|), 1), same double-monotone argument) and
  *    the witness-less empty-empty pairs (0 >= τ·0 is TRUE for every
  *    τ). Inner/cross: the witnessed two-phase UNION a
  *    broadcast-hinted cross of the two (tiny, size-0-filtered)
  *    empty-array subsets — see [[withEmptyEmptyBranch]]. Semi/anti
  *    (round 10): the SAME split at the rowid level — the witnessed
  *    matched-rowid set unions the rowids of empty left rows that
  *    LeftSemi-match an empty right row, and the back join's type
  *    decides survival (see [[twoPhaseSemiVerify]]); requires a stable
  *    rowid like every anti, stands down otherwise. τ = 0 with `>=`
  *    is TRUE for every pair (a genuine full cross) and stands down
  *    in every form.
  *  - `array_contains(a, x)` with `a` and `x` on opposite sides (the
  *    tag-lookup membership join) — only the array side explodes and
  *    no dedup pin is needed (see [[rewriteMembership]]).
  *
  * LEFT SEMI joins — the decontamination shape
  * (`corpus.join(banned, arrays_overlap(toks, banned_toks),
  * "left_semi")`) — are also rewritten. Semi needs no multiplicity pin
  * at all (∃-semantics dedup partners for free); what it needs is to
  * collapse a row's surviving exploded copies back to one row:
  *  - two-phase (stable rowid available, large input, remaining
  *    conjuncts scalar): explode `(rowid, element)` slim rows, LeftSemi
  *    against the partner side's exploded elements (raw witness
  *    equality — exact by construction), collapse to distinct rowids,
  *    LeftSemi the tagged left side against them;
  *  - in-place otherwise: tag rows with a plain unique id (a single
  *    instantiation, so no order-stability needed), explode, LeftSemi
  *    with the full original predicate re-applied raw, then collapse
  *    grouping on the id ALONE with payloads riding `first()` over the
  *    singleton group ([[RewriteSupport.collapseBySrid]] — map-typed
  *    payloads group fine this way, and float payloads keep their
  *    exact bits instead of passing through NormalizeFloatingNumbers).
  *  - membership with the array on the RIGHT (`probe ⋉ tags`) needs
  *    none of that: the left side stays unexploded, so the semi's own
  *    semantics already emit each row once.
  *
  * LEFT ANTI joins — "keep the clean corpus" — reduce to the SAME
  * matching-rowid sets with the back join flipped to anti: the implied
  * spelling through the raw-witness probe, threshold/Jaccard spellings
  * through the pair-verify [[twoPhaseSemiVerify]] (candidates from the
  * hashed-prefix join, raw predicate re-checked on back-joined rows),
  * and left-array membership through the member probe. Anti
  * has no in-place form (its collapse is not a group-by over
  * survivors), so it requires a stable rowid and stands down otherwise.
  *
  * Fires only when the overlap conjunct spans the two sides, the
  * element type is atomic (orderable + joinable), and no equi-conjunct
  * already links the sides (an existing equi-join is already
  * O(collisions); this also makes the rewrite a fixed point — every
  * join it emits is an equi-join). Default ON; disable with
  * `spark.graft.overlapJoinRewrite=false`.
  */
class SetOverlapJoinRewrite private[plans] (spark: SparkSession,
    sampleGate: ThetaJoinRewrite.SampleGate)
    extends ThetaJoinRewrite(spark, "overlap-join", "array compares",
      ScaleGuards.OverlapJoinRewriteKey, sampleGate) {
  def this(spark: SparkSession) = this(spark, ThetaJoinRewrite.StatsGate)
  import RewriteSupport._
  import ThetaJoinRewrite.{Probe, Slim}

  import SetOverlapJoinRewrite.OverlapPred

  private def nullFree(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, containsNull) => !containsNull
    case _ => false
  }

  /** Strip only VALUE-PRESERVING numeric widenings (the casts the
    * analyzer inserts around `size(...)` in a double comparison:
    * int→long, int→double, float→double). A user-written NARROWING
    * cast (`cast(size(...) as tinyint)`) changes the compared value,
    * so stripping it would make the Jaccard prefix bound unsound —
    * those spellings stand down instead. */
  private def uncast(e: Expression): Expression = e match {
    case c: Cast if ((c.child.dataType, c.dataType) match {
        case (IntegerType, LongType | DoubleType) => true
        case (FloatType, DoubleType) => true
        // the analyzer's decimal promotions around size() in a
        // decimal-literal comparison (`> 0.8 * size(...)` in SQL casts
        // one side to decimal(10,0) and the other to decimal(12,1)) —
        // value-preserving for every int when p − s ≥ 10
        case (IntegerType, dt: DecimalType) =>
          dt.precision - dt.scale >= 10
        case _ => false
      }) => uncast(c.child)
    case _ => e
  }

  /** `size(array_intersect(a, b)) {>|>=} τ · size(array_union(a', b'))`
    * — the naive Jaccard near-dup spellings (modulo the analyzer's
    * numeric casts, multiplication operand order, and comparison
    * direction), with {a, b} ≡ {a', b'}. Strict `>` with τ ≥ 0 implies
    * a non-null shared element exists — 0 > 0 fails, so every
    * qualifying pair has a witness. The `>=` spelling ALSO admits the
    * witness-less empty-empty pairs (0 >= τ·0 holds for every τ), so
    * its rewrite is the witnessed two-phase UNION a guarded cross of
    * the two empty-array subsets; it requires τ > 0 (τ = 0 with `>=`
    * is TRUE for every pair — a genuine full cross, nothing to
    * rewrite, stands down). Returns (a, b, τ, orEqual). */
  private def jaccardConj(c: Expression)
      : Option[(Expression, Expression, Double, Boolean, Boolean)] = {
    // legacySizeOfNull=true Size nodes stand down HERE (unlike the
    // intersect-size thresholds below, where legacy's size(NULL) = -1
    // never reaches a >= 1 bound and both modes drop the row): with
    // both sides negative, -1 {>|>=} tau * -1 is TRUE for tau > 1
    // (resp. tau >= 1), so the legacy naive plan emits NULL-array
    // pairs this rewrite cannot reproduce.
    def interSides(e: Expression): Option[(Expression, Expression)] =
      uncast(e) match {
        case Size(ArrayIntersect(a, b), false) => Some((a, b))
        case _ => None
      }
    // (tau-as-double, slop, union sides): a DOUBLE τ literal runs the
    // bound in the predicate's own arithmetic (slop = false); a DECIMAL
    // τ literal (the pure-SQL `0.8` spelling — exact decimal predicate
    // arithmetic) carries slop = true so the double-computed bound
    // subtracts one element (see OverlapPred.jaccardSlop)
    def tauUnion(e: Expression)
        : Option[(Double, Boolean, Expression, Expression)] =
      e match {
        case Multiply(m1, m2, _) =>
          def lit(x: Expression): Option[(Double, Boolean)] =
            uncast(x) match {
              case Literal(d: Double, DoubleType) => Some((d, false))
              case Literal(d: Decimal, _: DecimalType) if d != null =>
                Some((d.toDouble, true))
              case _ => None
            }
          def union(x: Expression): Option[(Expression, Expression)] =
            uncast(x) match {
              case Size(ArrayUnion(u, v), false) => Some((u, v))
              case _ => None
            }
          (for ((t, sl) <- lit(m1); (u, v) <- union(m2))
            yield (t, sl, u, v))
            .orElse(for ((t, sl) <- lit(m2); (u, v) <- union(m1))
              yield (t, sl, u, v))
        case _ => None
      }
    val parts = c match {
      case GreaterThan(x, y) =>
        interSides(x).zip(tauUnion(y)).map((_, false))
      case LessThan(y, x) =>
        interSides(x).zip(tauUnion(y)).map((_, false))
      case GreaterThanOrEqual(x, y) =>
        interSides(x).zip(tauUnion(y)).map((_, true))
      case LessThanOrEqual(y, x) =>
        interSides(x).zip(tauUnion(y)).map((_, true))
      case _ => None
    }
    parts.collect {
      case (((a, b), (tau, slop, u, v)), orEqual)
          if (if (orEqual) tau > 0.0 else tau >= 0.0)
            && nullFree(a) && nullFree(b)
            && ((a.semanticEquals(u) && b.semanticEquals(v))
              || (a.semanticEquals(v) && b.semanticEquals(u))) =>
        (a, b, tau, orEqual, slop)
    }
  }

  /** All overlap-family conjuncts, in order — the first candidate that
    * ORIENTS across the two sides wins, so a same-side
    * `arrays_overlap(a1, a2)` conjunct ahead of the real cross-side one
    * no longer defeats the rewrite. */
  private def overlapConjuncts(cs: Seq[Expression]): Seq[OverlapPred] =
    cs.flatMap { c =>
      val base = c match {
        case ArraysOverlap(a, b) =>
          Some(OverlapPred(c, a, b, implied = true, 1, None))
        // the HOF spelling of the same intent:
        // `exists(a, e -> array_contains(b, e))` — TRUE iff a non-null
        // element of `a` has a non-null match in `b` (a null element
        // makes array_contains NULL, never TRUE), i.e. exactly
        // arrays_overlap's witness contract under either three-valued
        // setting, so it is `implied` too. `b` must be FREE of lambda
        // variables: lifting an expression that mentions the bound
        // element (e.g. `array_contains(concat(ra, array(e)), e)`)
        // out of its lambda scope would leave the variable unbound in
        // the rewritten plan, so those shapes stand down.
        case ArrayExists(a,
            LambdaFunction(ArrayContains(b, ev: NamedLambdaVariable),
              Seq(lv: NamedLambdaVariable), _), _)
            if ev.exprId == lv.exprId
              && b.find(_.isInstanceOf[NamedLambdaVariable]).isEmpty =>
          Some(OverlapPred(c, a, b, implied = true, 1, None))
        case GreaterThanOrEqual(Size(ArrayIntersect(a, b), _),
              Literal(k: Int, IntegerType))
            if k >= 1 && nullFree(a) && nullFree(b) =>
          Some(OverlapPred(c, a, b, implied = false, k, None))
        case GreaterThan(Size(ArrayIntersect(a, b), _),
              Literal(k: Int, IntegerType))
            if k >= 0 && nullFree(a) && nullFree(b) =>
          Some(OverlapPred(c, a, b, implied = false, k + 1, None))
        case LessThanOrEqual(Literal(k: Int, IntegerType),
              Size(ArrayIntersect(a, b), _))
            if k >= 1 && nullFree(a) && nullFree(b) =>
          Some(OverlapPred(c, a, b, implied = false, k, None))
        case LessThan(Literal(k: Int, IntegerType),
              Size(ArrayIntersect(a, b), _))
            if k >= 0 && nullFree(a) && nullFree(b) =>
          Some(OverlapPred(c, a, b, implied = false, k + 1, None))
        case _ => None
      }
      base.orElse(jaccardConj(c).map { case (a, b, tau, orEqual, slop) =>
        OverlapPred(c, a, b, implied = false, 1, Some(tau), orEqual,
          jaccardSlop = slop)
      })
    }

  /** The candidate-generation element keys for one side under `p`'s
    * prefix bound — hashed 8-byte keys for the two-phase slim explode,
    * raw elements for the in-place/semi paths. Constant thresholds
    * c ≥ 2 slice to (size − c + 1); strict Jaccard τ slices to
    * (size − floor(τ·size)): a qualifying pair has |∩| > τ·|∪| ≥ τ·|A|
    * in the predicate's own double arithmetic (double multiplication is
    * monotone in |∪| ≥ |A|), so |∩| ≥ floor(τ·|A|) + 1 = c_row. */
  /** One extra prefix element for decimal-τ spellings, whose predicate
    * arithmetic is exact while this bound runs in double: in the regime
    * where the prefix can be non-empty (c_row ≤ size + 1, so τ·size ≤
    * 2³¹ + 1) the double product's total error is ≪ 1, so ceil/floor
    * overshoot the exact value by at most 1 — the slop absorbs it. */
  private def slopOf(p: OverlapPred): Long = if (p.jaccardSlop) 1L else 0L

  private def candidateElems(arr: Expression, p: OverlapPred,
      hashed: Boolean): Expression = {
    val len: Option[Expression => Expression] = p.jaccardTau match {
      // `>=`: a WITNESSED qualifying pair has |∩| ≥ τ·|∪| ≥ τ·|A| in the
      // predicate's own double arithmetic, and |∩| is an integer, so
      // |∩| ≥ ceil(τ·|A|); witnessed also means |∩| ≥ 1 — c_row =
      // max(ceil(τ·size), 1), prefix length size − c_row + 1
      // the length arithmetic runs in LONG with c_row clamped to ≤ s+1
      // (resp. the floor to ≤ s): the clamp never changes the result —
      // past it the prefix is empty either way — but it keeps the final
      // value inside [0, s] so the Int cast cannot overflow. Unclamped,
      // a large τ (1e9·size fits harmlessly in the predicate's double
      // arithmetic) would make Cast(ceil AS INT) throw CAST_OVERFLOW
      // under ANSI — a crash the naive plan never has.
      case Some(tau) if p.jaccardOrEqual => Some { s =>
        val sL = Cast(s, LongType)
        val cRow = Least(Seq(
          Greatest(Seq(
            Subtract(
              Ceil(Multiply(Literal(tau), Cast(s, DoubleType))),
              Literal(slopOf(p))),
            Literal(1L))),
          Add(sL, Literal(1L))))
        Cast(Add(Subtract(sL, cRow), Literal(1L)), IntegerType)
      }
      case Some(tau) => Some { s =>
        val sL = Cast(s, LongType)
        val fl = Least(Seq(
          Greatest(Seq(
            Subtract(
              Floor(Multiply(Literal(tau), Cast(s, DoubleType))),
              Literal(slopOf(p))),
            Literal(0L))),
          sL))
        Cast(Subtract(sL, fl), IntegerType)
      }
      case None if p.minOverlap >= 2 =>
        Some(s => Subtract(s, Literal(p.minOverlap - 1)))
      case None => None
    }
    (len, hashed) match {
      case (Some(f), true) => hashedPrefixElems(arr, f)
      case (Some(f), false) => prefixElems(arr, f)
      case (None, true) => hashedElems(arr)
      case (None, false) => ArrayDistinct(arr)
    }
  }

  /** Scalar (non-nested) orderable element — what both the equi-join
    * keys and the `array_min` dedup pin require. */
  private def atomicElem(e: Expression): Boolean = e.dataType match {
    case ArrayType(et, _) => et match {
      case _: ArrayType | _: MapType | _: StructType => false
      // non-binary collations stand down (every path): SQL equality on
      // a collated string is collation-aware ('Foo' = 'FOO' under
      // UTF8_LCASE) while xxhash64 hashes raw bytes — the hashed
      // two-phase would silently drop qualifying pairs — and the
      // in-place pin/prefix orderings would each need a
      // collation-consistency proof of their own
      case s: StringType =>
        org.apache.spark.sql.graftbridge.ColumnBridge.binaryEqualityString(s)
      case other => RowOrdering.isOrderable(other)
    }
    case _ => false
  }

  private def sameElemType(a: Expression, b: Expression): Boolean =
    a.dataType.asInstanceOf[ArrayType].elementType ==
      b.dataType.asInstanceOf[ArrayType].elementType

  /** xxhash64 and SQL equality agree (x = y ⇒ hash(x) = hash(y)) for
    * every atomic type except float/double, whose NaN families and
    * signed zeros compare equal without sharing bits. */
  private def hashSafeElem(a: Expression): Boolean =
    a.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType | DoubleType => false
      case _ => true
    }

  /** Stand-down diagnostics: when a join's condition LOOKS like the
    * overlap family but a gate disqualified it, the user is left with a
    * silent nested-loop plan and only a plan probe reveals why (a
    * transform-then-drop-nulls gram spelling types containsNull=true and
    * the rule walks away). Scan the conjuncts for near-miss shapes and
    * name the disqualifier; with every gate passed, a semi/anti that did
    * not fire names its topological cause. Pure structural scan — no
    * stats reads, no side jobs. */
  override protected def standDownReasons(j: Join,
      cs: Seq[Expression]): Seq[String] = {
    val Join(l, r, jt, _, _) = (j: @unchecked)
    val crossSides = RewriteSupport.crossSides(l, r) _
    val hits = scala.collection.mutable.LinkedHashSet.empty[String]
    def inspect(node: Expression): Unit = node match {
      case Size(ArrayIntersect(a, b), true) if crossSides(a, b) =>
        hits += ("spark.sql.legacy.sizeOfNull is on: size(NULL) = -1 " +
          "admits NULL-array pairs the rewrite cannot reproduce — unset " +
          "the legacy conf (or its ansi.enabled implication)")
      case op @ (_: ArrayIntersect | _: ArraysOverlap) =>
        val (a, b) = (op.children(0), op.children(1))
        if (crossSides(a, b)) {
          if (!nullFree(a) || !nullFree(b))
            hits += ("array elements are NULLABLE (containsNull=true) — " +
              "respell the derivation so the type is provably null-free " +
              "(e.g. transform over pre-filtered positions instead of " +
              "transform-then-drop-nulls)")
          if (!atomicElem(a) || !atomicElem(b))
            hits += ("element type is nested or non-binary-collated — " +
              "hashed witnesses cannot reproduce its equality; project " +
              "elements to an atomic binary-comparable form first")
          if (atomicElem(a) && atomicElem(b) && !sameElemType(a, b))
            hits += "element types differ between the two sides"
        }
      case _ => ()
    }
    // TOP-LEVEL conjuncts only — where overlapConjuncts/jaccardConj
    // look. Descend WITHIN a top-level comparison (the Jaccard
    // spelling nests intersect/union under casts and multiplies) or a
    // bare overlap, but never into OR/NOT/CASE wrappers: no gate fix
    // makes the rewrite serve those shapes, so advising one is wrong.
    cs.foreach {
      case c @ (_: ArraysOverlap | _: GreaterThan | _: GreaterThanOrEqual
          | _: LessThan | _: LessThanOrEqual) => c.foreach(inspect)
      case _ => ()
    }
    if (hits.nonEmpty) hits.toSeq
    else orientedOverlap(cs, l, r).toSeq.map { p =>
      if (l.isStreaming || r.isStreaming)
        "a streaming child: the collapse would smuggle a stateful " +
          "aggregate into a stateless semi join (the naive stream-static " +
          "shape is the supported one)"
      // hash safety only gates the NON-implied two-phase (the verify
      // topology joins HASHED prefixes); the implied arrays_overlap
      // path joins raw elements, so floats are never its disqualifier
      // — blaming them would send the user bit-casting to no effect
      else if (!p.implied && !hashSafeElem(p.a))
        "float/double elements: xxhash64 and SQL equality disagree on " +
          "NaN families and signed zeros — quantize or bit-cast the " +
          "elements to integers first"
      else rowIdStandDown(jt)
    }
  }

  override protected def rewriteInner(j: Join,
      cs: Seq[Expression]): Option[LogicalPlan] =
    rewriteOverlap(j, cs).orElse(rewriteMembership(j, cs))

  override protected def rewriteSemi(j: Join,
      cs: Seq[Expression]): Option[LogicalPlan] =
    rewriteSemiOverlap(j, cs).orElse(rewriteSemiMembership(j, cs))

  /** First overlap conjunct that orients across the two sides, with
    * oriented (a = left side, b = right side) array expressions — the
    * prefix bounds are symmetric, so orientation swap is free. */
  private def orientedOverlap(cs: Seq[Expression],
      l: LogicalPlan, r: LogicalPlan): Option[OverlapPred] =
    overlapConjuncts(cs).iterator.flatMap { p =>
      if (atomicElem(p.a) && atomicElem(p.b) && sameElemType(p.a, p.b))
        oriented(p.a, p.b, l, r).map { case (a, b) => p.copy(a = a, b = b) }
      else None
    }.nextOption()

  /** [[ScaleGuards.PreflightKey]] = warn: on rewrite fire, the
    * d31 hot-element audit over the join's own children — "diagnosed by
    * default" instead of "diagnosable on request". */
  private def audit(l: LogicalPlan, r: LogicalPlan, p: OverlapPred): Unit = {
    // >=-Jaccard fires withEmptyEmptyBranch — |E_l|·|E_r| rows of
    // REQUIRED output the witnessed count cannot see; price them
    val eeCols =
      if (p.jaccardOrEqual)
        Seq("empty_empty_rows" -> true, "empty_share_bp" -> false)
      else Nil
    preflight(l, r, p.a, p.b,
      Seq("est_candidate_rows" -> true) ++ eeCols ++ Seq(
        "worst_element" -> false, "max_element_rows" -> true,
        "max_share_bp" -> false, "diagnosis" -> false)) {
      (dl, ca, dr, cb, f) => graft.operators.SkewTools.overlapJoinPreflight(
        dl, ca, dr, cb,
        minOverlap = if (p.jaccardTau.isDefined) 1 else p.minOverlap,
        includeEmptyEmpty = p.jaccardOrEqual, sampleFraction = f)
    }
  }

  /** The in-place candidate keys: raw elements, prefix-sliced when the
    * threshold admits it, exploded into `graft_elem_<side>`. */
  private def rawElems(arr: Expression, p: OverlapPred, side: String)
      : (Generator, Seq[Attribute]) =
    (Explode(candidateElems(arr, p, hashed = false)),
      Seq(AttributeReference(s"graft_elem_$side",
        arr.dataType.asInstanceOf[ArrayType].elementType)()))

  /** Slim `(prid, element)` candidate rows: HASHED keys (8-byte
    * xxhash64, prefix-sliced when the threshold admits it) where a raw
    * recheck follows, raw distinct elements where a matched element IS
    * the overlap witness and nothing is re-checked. */
  private def elemProbe(p: OverlapPred, hashed: Boolean): Probe = new Probe {
    def side(base: LogicalPlan, keep: Seq[Attribute], side: LogicalPlan,
        carried: Seq[Expression], left: Boolean): Slim = {
      val (arr, s) = if (left) (p.a, "l") else (p.b, "r")
      val (elems, et) =
        if (hashed) (candidateElems(arr, p, hashed = true), LongType)
        else (distinctElems(arr),
          arr.dataType.asInstanceOf[ArrayType].elementType)
      val eh = AttributeReference(s"graft_elem_$s", et, nullable = !hashed)()
      val (plan, subst) =
        slimSide(base, keep, side, carried, Nil, Explode(elems), Seq(eh))
      Slim(plan, Seq(eh), subst)
    }
  }

  /** `arrays_overlap(a, b)` / intersect-size threshold / Jaccard
    * (strict and `>=`), inner/cross. TWO-PHASE above the floor (hashed
    * candidates, raw recheck after the back-joins); IN-PLACE otherwise:
    * explode both sides (prefix-sliced when the threshold admits it —
    * the pin element, being the MINIMUM common element, is always
    * inside both prefixes, see [[RewriteSupport.prefixElems]]),
    * equi-join on the element, pin to the minimum non-null common
    * element (exactly-once per qualifying pair). */
  private def rewriteOverlap(j: Join, cs: Seq[Expression])
      : Option[LogicalPlan] = {
    val Join(l, r, _, _, _) = (j: @unchecked)
    orientedOverlap(cs, l, r).map { p =>
      val (a, b) = (p.a, p.b)
      audit(l, r, p)
      val twoPhase =
        if (!l.isStreaming && !r.isStreaming && hashSafeElem(a)
            && bigEnoughForTwoPhase(l, r))
          // the plain arrays_overlap spelling re-checks through the exact
          // intersect twin (hash-set path); threshold spellings re-apply
          // their own predicate raw, which subsumes the overlap witness
          twoPhaseInner(j, p.conj, cs, elemProbe(p, hashed = true),
            Some(if (p.implied) fastOverlapCheck(a, b) else p.conj))
        else None
      val witnessed = twoPhase.getOrElse {
        val (genL, genR) = (rawElems(a, p, "l"), rawElems(b, p, "r"))
        val ea = genL._2.head
        // re-apply the original conjuncts, minus the overlap predicate
        // itself when the equi-match implies it (the chosen conjunct,
        // plus any duplicate arrays_overlap spelling of the same pair)
        val reapplied =
          if (p.implied)
            cs.filterNot { x =>
              (x eq p.conj) || (x match {
                case ArraysOverlap(q, w) =>
                  (q == a && w == b) || (q == b && w == a)
                case _ => false
              })
            }
          else cs
        inPlaceInner(j, genL, genR, Seq(EqualTo(ea, genR._2.head),
          EqualTo(ea, ArrayMin(ArrayIntersect(a, b)))) ++ reapplied)
      }
      if (p.jaccardOrEqual) withEmptyEmptyBranch(j, cs, p, witnessed)
      else witnessed
    }
  }

  /** The `>=` Jaccard spelling's second branch: 0 >= τ·0 holds for
    * every τ, so EVERY empty-array × empty-array pair qualifies with
    * no shared-element witness — the reason this spelling used to
    * stand down entirely (the witnessed topology cannot find them).
    * The full result is therefore (witnessed two-phase) UNION (cross
    * of the two empty-array subsets). The cross is semantically
    * REQUIRED output — |E_l|·|E_r| rows exist in the naive answer —
    * and E is tiny in any real corpus (documents with an empty
    * element set); the BROADCAST hint keeps it a
    * BroadcastNestedLoopJoin rather than a CartesianProductExec. The
    * Jaccard conjunct itself is implied TRUE by the two size-0 filters
    * and is DROPPED from the cross's condition (also what keeps this
    * rule a fixed point — without an overlap-family conjunct the new
    * join never re-fires it); every other conjunct re-applies. */
  private def withEmptyEmptyBranch(j: Join, cs: Seq[Expression],
      p: OverlapPred, witnessed: LogicalPlan): LogicalPlan = {
    val Join(l, r, _, _, _) = (j: @unchecked)
    def empties(side: LogicalPlan, arr: Expression) =
      Filter(EqualTo(Size(arr, legacySizeOfNull = false), Literal(0)), side)
    val rest = cs.filterNot(_ eq p.conj)
    val cross = Join(empties(l, p.a), empties(r, p.b), Inner,
      rest.reduceOption(And),
      JoinHint(Some(HintInfo(Some(BROADCAST))), None))
    // fresh exprIds on the second branch so the union's children stay
    // distinguishable to downstream rules
    val fresh = Project(
      j.output.map(at => Alias(at, at.name)()), cross)
    Union(Seq(witnessed, fresh))
  }

  /** Exact, fast evaluation twin of `arrays_overlap(a, b)` for the
    * re-check slot: `size(array_intersect(<non-null a>, b)) >= 1`.
    * Identical three-valued semantics — null elements are filtered off
    * `a` first so a shared null never counts (arrays_overlap's
    * non-null-witness contract), and a null array yields a null size,
    * which the Filter rejects exactly as it rejects arrays_overlap's
    * NULL. Why not re-apply arrays_overlap itself: its non-primitive
    * path is pairwise O(n·m) comparison (measured ~2.2 ms per 297×51
    * string-array pair), while array_intersect builds a hash set
    * (~4× faster on the same inputs). */
  private def fastOverlapCheck(a: Expression, b: Expression): Expression =
    GreaterThanOrEqual(
      Size(ArrayIntersect(nonNullElems(a), b), legacySizeOfNull = false),
      Literal(1))

  /** `array_contains(a, x)` with `a` and `x` on opposite sides — the
    * tag-lookup membership join — → explode the ARRAY side's distinct
    * elements and equi-join the element against the scalar. No pin
    * needed: at most one distinct element equals `x`, so each
    * qualifying pair emits exactly once by construction. Null-exact:
    * `array_contains` is TRUE iff a non-null element equals a non-null
    * `x`, which is precisely what the equi-join matches (the implied
    * conjunct is dropped; other conjuncts re-applied). The first
    * candidate conjunct that orients across the sides wins. */
  private def membershipConjunct(cs: Seq[Expression],
      l: LogicalPlan, r: LogicalPlan)
      : Option[(Expression, Expression, Expression, Boolean)] =
    cs.iterator.flatMap {
      case c @ ArrayContains(arr, x)
          if atomicElem(arr)
            && x.dataType ==
              arr.dataType.asInstanceOf[ArrayType].elementType
            && arr.references.nonEmpty && x.references.nonEmpty =>
        if (arr.references.subsetOf(l.outputSet)
            && x.references.subsetOf(r.outputSet))
          Some((c, arr, x, true)) // array on the left
        else if (arr.references.subsetOf(r.outputSet)
            && x.references.subsetOf(l.outputSet))
          Some((c, arr, x, false)) // array on the right
        else None
      case _ => None
    }.nextOption()

  private def rewriteMembership(j: Join, cs: Seq[Expression])
      : Option[LogicalPlan] = {
    val Join(l, r, _, _, hint) = (j: @unchecked)
    membershipConjunct(cs, l, r).map { case (c, arr, x, arrayOnLeft) =>
      val rest = cs.filterNot(_ eq c)
      val gen @ (_, Seq(ea)) = memberElems(arr)
      val cond = Some((EqualTo(ea, x) +: rest).reduce(And))
      Project(j.output,
        if (arrayOnLeft) Join(explode(gen, l), r, Inner, cond, hint)
        else Join(l, explode(gen, r), Inner, cond, hint))
    }
  }

  /** The membership candidate keys: the array side's distinct elements,
    * exploded into `graft_member_elem`. */
  private def memberElems(arr: Expression): (Generator, Seq[Attribute]) =
    (Explode(ArrayDistinct(arr)), Seq(AttributeReference("graft_member_elem",
      arr.dataType.asInstanceOf[ArrayType].elementType)()))

  // ---------------------------------------------------------------- semi

  /** LeftSemi/LeftAnti overlap/threshold/Jaccard: the decontamination
    * shapes (semi = "report the contaminated rows", anti = "keep the
    * clean corpus"). Both reduce to the same matching-rowid set; the
    * back join's type decides which side of it survives. The implied
    * spelling probes raw witness equality directly (a matched non-null
    * element IS the overlap witness, so nothing is re-checked);
    * threshold/Jaccard spellings re-verify candidate pairs against the
    * raw predicate first ([[twoPhaseSemiVerify]] — a shared element is
    * only a witness there, not a verdict). LeftAnti has no in-place
    * fallback: its collapse cannot be expressed as a group-by over
    * survivors, so without a stable rowid the rule stands down (the
    * naive plan stays, correct but unscalable). */
  private def rewriteSemiOverlap(j: Join, cs: Seq[Expression])
      : Option[LogicalPlan] = {
    val Join(l, r, jt, _, hint) = (j: @unchecked)
    // the `>=` Jaccard spelling admits witness-less empty-empty
    // partners: a semi/anti built from witnessed matches alone would
    // drop (semi) or wrongly keep (anti) every empty left row when the
    // right side contains any qualifying empty array. The rowid
    // topology handles it — [[twoPhaseSemiVerify]] unions the
    // empty-matched rowids into the matched set before the back join —
    // so the spelling fires there (regardless of input size: the
    // in-place collapse below cannot see empty-empty matches, so there
    // is no small-input form and the alternative is the naive
    // nested-loop); without a stable rowid it still stands down.
    orientedOverlap(cs, l, r).flatMap { p =>
      val rest = cs.filterNot(_ eq p.conj)
      val restCheap = rest.forall(cheapScalar)
      val twoPhase =
        if (p.implied && restCheap && !l.isStreaming && !r.isStreaming
            && (jt == LeftAnti || bigEnoughForTwoPhase(l, r)))
          twoPhaseSemi(j, elemProbe(p, hashed = false), rest,
            selfJoinHint(l, r, hint))
        else if (!p.implied && restCheap && !l.isStreaming && !r.isStreaming
            && hashSafeElem(p.a)
            && (jt == LeftAnti || p.jaccardOrEqual
              || bigEnoughForTwoPhase(l, r)))
          twoPhaseSemiVerify(j, rest, p)
        else None
      // the in-place collapse is a group-by over the exploded left
      // side — on a streaming plan that would smuggle a stateful
      // aggregate into a stateless semi join, so it stands down there
      // (the naive stream-static nested-loop semi stays, which is the
      // supported shape); for `>=`-Jaccard it can never fire (empty
      // arrays explode nothing, so empty-empty matches are invisible
      // to it). Threshold spellings re-apply their predicate raw.
      val fired = twoPhase.orElse(
        if (jt == LeftSemi && !j.isStreaming && !p.jaccardOrEqual) Some {
          val (genL, genR) = (rawElems(p.a, p, "l"), rawElems(p.b, p, "r"))
          val reapplied = if (p.implied) cs.filterNot(_ eq p.conj) else cs
          inPlaceSemi(j, genL, explode(genR, r),
            EqualTo(genL._2.head, genR._2.head) +: reapplied,
            selfJoinHint(l, r, hint))
        }
        else None)
      if (fired.isDefined) audit(l, r, p)
      fired
    }
  }

  /** Two-phase semi/anti for the NON-implied spellings (intersect-size
    * threshold, strict and `>=` Jaccard) — the keep-the-clean-corpus
    * shape `corpus.join(banned, size(array_intersect(g, bg)) >= c,
    * "left_anti")`. A shared element is only a WITNESS here, not a
    * verdict, so candidate pairs from the slim hashed-prefix join are
    * re-verified by the raw predicate on back-joined full rows, then
    * collapsed to the matched left-rowid set. Payloads cross the wire
    * once per row into the verify join — never once per element. */
  private def twoPhaseSemiVerify(j: Join, rest: Seq[Expression],
      p: OverlapPred): Option[LogicalPlan] = {
    val Join(l, r, _, _, _) = (j: @unchecked)
    rowIdSemi(j) { (lNarrow, pridL) =>
      for {
        (rNarrow, pridR) <- withStableRowId(r, "graft_prid_r")
        (lVer, vridL) <- withStableRowId(l, "graft_vrid_l")
        (rVer, vridR) <- withStableRowId(r, "graft_vrid_r")
      } yield {
        val pairs = candidatePairs(j, elemProbe(p, hashed = true),
          lNarrow, pridL, rNarrow, pridR, rest)
        val withL = Join(pairs, lVer, Inner,
          Some(EqualTo(pridL, vridL)), JoinHint.NONE)
        val withLR = Join(withL, rVer, Inner,
          Some(EqualTo(pridR, vridR)), JoinHint.NONE)
        val verified = Filter(p.conj, withLR)
        // `>=`-Jaccard admits witness-less empty-empty partners (0 >= τ·0
        // for every τ): an empty-array left row matches iff SOME
        // empty-array right row satisfies the remaining conjuncts — a
        // LeftSemi of the two tiny size-0-filtered subsets (broadcast; a
        // condition-less one is the FailCartesianProducts-exempt
        // broadcast shape, as in [[withEmptyEmptyBranch]]). Its rowids
        // UNION into the matched set.
        if (!p.jaccardOrEqual) verified
        else {
          val (lEmpty, erid) = withStableRowId(l, "graft_erid_l")
            .getOrElse(sys.error("unreachable: l yielded a rowid above"))
          val emptyL = Filter(
            EqualTo(Size(p.a, legacySizeOfNull = false), Literal(0)), lEmpty)
          val emptyR = Filter(
            EqualTo(Size(p.b, legacySizeOfNull = false), Literal(0)), r)
          val emptySemi = Join(emptyL, emptyR, LeftSemi,
            rest.reduceOption(And),
            JoinHint(None, Some(HintInfo(Some(BROADCAST)))))
          Union(Seq(Aggregate(Seq(pridL), Seq(pridL), verified),
            Project(Seq(Alias(erid, "graft_eprid_l")()), emptySemi)))
        }
      }
    }
  }

  /** Slim `(prid, element)` membership rows on the array side; the
    * probe side stays intact and matches on element = probe. */
  private def memberProbe(arr: Expression, x: Expression): Probe = new Probe {
    def side(base: LogicalPlan, keep: Seq[Attribute], side: LogicalPlan,
        carried: Seq[Expression], left: Boolean): Slim =
      if (!left) Slim(base, Seq(x), Map.empty)
      else {
        val ea = AttributeReference("graft_member_elem",
          arr.dataType.asInstanceOf[ArrayType].elementType)()
        val (plan, subst) = slimSide(base, keep, side, carried, Nil,
          Explode(distinctElems(arr)), Seq(ea))
        Slim(plan, Seq(ea), subst)
      }
  }

  /** LeftSemi membership. Array on the RIGHT (`probe ⋉ tags`): the left
    * side stays unexploded — explode the right side's distinct elements
    * and LeftSemi on element = probe; semi semantics already emit each
    * left row once, so no tagging or collapse at all. Array on the
    * LEFT — the quarantine shapes `docs ⋉ banned_tags ON
    * array_contains(tags, t)` and its anti twin "keep the docs with NO
    * banned tag": membership witness equality IS the verdict, so the
    * two-phase probe needs no re-verification (remaining conjuncts'
    * left-side references must be scalar to ride the narrow
    * projection; the probe side is fully present); small semi inputs
    * explode-tag-collapse in place. */
  private def rewriteSemiMembership(j: Join, cs: Seq[Expression])
      : Option[LogicalPlan] = {
    val Join(l, r, jt, _, hint) = (j: @unchecked)
    membershipConjunct(cs, l, r).flatMap { case (c, arr, x, arrayOnLeft) =>
      val rest = cs.filterNot(_ eq c)
      val gen @ (_, Seq(ea)) = memberElems(arr)
      if (!arrayOnLeft)
        // probe side stays unexploded: semi AND anti both exact (a null
        // probe or null-only tags never equi-match, exactly the rows
        // array_contains never passes TRUE for)
        Some(Project(j.output, Join(l, explode(gen, r), jt,
          Some((EqualTo(x, ea) +: rest).reduce(And)), hint)))
      else {
        val twoPhase =
          if (!l.isStreaming && !r.isStreaming
              && (jt == LeftAnti || bigEnoughForTwoPhase(l, r))
              && rest.forall(c => c.deterministic
                && c.references.filter(l.outputSet.contains)
                  .forall(at => scalarType(at.dataType))))
            twoPhaseSemi(j, memberProbe(arr, x), rest, hint)
          else None
        // same streaming stand-down as the overlap semi: the collapse is
        // a group-by over the exploded left side
        twoPhase.orElse(
          if (jt == LeftAnti || j.isStreaming) None
          else Some(inPlaceSemi(j, gen, r,
            EqualTo(ea, x) +: rest, hint)))
      }
    }
  }
}

private[plans] object SetOverlapJoinRewrite {
  /** A recognized overlap-family conjunct. `implied = true` marks the
    * plain `arrays_overlap` spelling, whose re-application the in-place
    * pin makes redundant (a matched non-null shared element IS the
    * overlap witness); threshold/Jaccard spellings are NOT implied and
    * are always re-applied raw. `minOverlap` is the statically-known
    * lower bound c on |set(a) ∩ set(b)| for qualifying pairs — the
    * SSJoin prefix filter explodes only (size − c + 1) elements per row
    * when c ≥ 2. `jaccardTau` carries the strict-Jaccard threshold,
    * whose per-row bound is dynamic (c_row = floor(τ·size) + 1 for the
    * strict spelling, max(ceil(τ·size), 1) when `jaccardOrEqual` — the
    * `>=` spelling, whose WITNESSED pairs this bound covers while the
    * empty-empty pairs it also admits come from a separate union
    * branch, see [[rewriteOverlap]]). */
  /** `jaccardSlop` = the τ literal was a DECIMAL (a pure-SQL `0.8`)
    * whose predicate arithmetic is exact while the bound runs in
    * double: the bound subtracts one extra element (c_row − 1) so a
    * one-ulp overshoot of ceil/floor can never shorten a prefix a
    * qualifying pair needs — the raw predicate re-check keeps the
    * result exact, the prefix is merely one element longer. Double τ
    * literals need no slop: the bound runs in the predicate's own
    * arithmetic. */
  private[plans] final case class OverlapPred(conj: Expression,
      a: Expression, b: Expression, implied: Boolean, minOverlap: Int,
      jaccardTau: Option[Double], jaccardOrEqual: Boolean = false,
      jaccardSlop: Boolean = false)

}
