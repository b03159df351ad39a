package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Distinct 3-gram shingle hashes of a token array in ONE primitive pass —
  * the shared front stage of the shingle-based dedup family
  * (DedupOps.shingleHashArrays: d02, d15, d16, d20, d22 and the d15/d20
  * ground-truth sides).
  *
  * Semantics are EXACTLY the former three-stage HOF spelling
  *
  * {{{
  *   th      = transform(toks, t -> xxhash64(t))
  *   shh_arr = array_distinct(transform(sequence(0, size(th) - 3), i ->
  *     th[i]
  *       ^ (shiftleft(th[i+1], 21) | shiftrightunsigned(th[i+1], 43))
  *       ^ (shiftleft(th[i+2], 42) | shiftrightunsigned(th[i+2], 22))))
  * }}}
  *
  * i.e. per token the seed-42 XXH64 Spark's `xxhash64` computes (a NULL
  * token hashes to the seed, exactly as `xxhash64(NULL)` does), combined
  * position-sensitively by rotate-left 21/42 (`Long.rotateLeft` IS the
  * `shiftleft | shiftrightunsigned` pair), deduplicated in
  * first-occurrence order (`array_distinct`'s order). Fewer than 3 tokens
  * yields an EMPTY array — every caller gates `size(toks) >= 3` first, so
  * the sub-3 case is unreachable there (the old spelling's
  * `sequence(0, -1)` counts down and was equally unreachable); empty keeps
  * the expression total without the round-6 sequence trap.
  *
  * What it buys (guide §4 expressions): the HOF chain ran two interpreted
  * `transform` loops (per-element lambda dispatch, one boxed Long per
  * token hash, an intermediate `th` array and an intermediate combined
  * array) plus `array_distinct`. This is one codegen-compatible call that
  * hashes each token once into a primitive long[], combines in place, and
  * dedups through an open-addressed long table — no boxing, no
  * intermediate ArrayData, measured ~2x on the shingle-build stage at
  * sf0.1. The hash values are grouping keys only (no declared query ever
  * outputs them), but bit-identity with the old spelling is kept anyway so
  * plans and caches stay comparable.
  */
case class ShingleHashes(child: Expression) extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)

  override def prettyName: String = "shingle_hashes"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"shingle_hashes requires ARRAY<STRING>, got ${other.simpleString}")
    }

  override protected def nullSafeEval(input: Any): Any =
    ShingleHashes.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ShingleHashes.compute($c);")

  override protected def withNewChildInternal(
      newChild: Expression): ShingleHashes = copy(child = newChild)
}

object ShingleHashes {

  /** Spark `xxhash64(token)` verbatim: seed-42 XXH64 over the UTF8 bytes;
    * a NULL element leaves the running hash at the seed. */
  def tokenHash(s: UTF8String): Long =
    if (s == null) 42L else XXH64.hashUTF8String(s, 42L)

  /** Largest shingle count per document: beyond it twice the count
    * overflows an Int. */
  val MaxShingles: Int = 1 << 29

  /** Capacity of the open-addressed first-occurrence dedup table: the next
    * power of two ≥ 2m, at least 4. Past [[MaxShingles]] it fails loudly —
    * an overflowed 2m would leave the table at 4 slots and the probe loop
    * would spin forever once they filled. */
  def capacity(m: Int): Int = {
    require(m <= MaxShingles,
      s"shingle_hashes: $m shingles in one document exceed the bound of " +
        s"$MaxShingles")
    var cap = 4
    while (cap < (m << 1)) cap <<= 1
    cap
  }

  /** The whole front stage: hash, combine, first-occurrence dedup.
    * Called from both eval and the generated code (one compiled body —
    * the JIT sees the same loop either way). */
  def compute(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    if (n < 3)
      return org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(Array.emptyLongArray)
    val m = n - 2
    val cap = capacity(m)
    val th = new Array[Long](n)
    var i = 0
    while (i < n) { th(i) = tokenHash(toks.getUTF8String(i)); i += 1 }
    val table = new Array[Long](cap)
    val used = new Array[Boolean](cap)
    val mask = cap - 1
    val out = new Array[Long](m)
    var k = 0
    i = 0
    while (i < m) {
      val h = th(i) ^
        java.lang.Long.rotateLeft(th(i + 1), 21) ^
        java.lang.Long.rotateLeft(th(i + 2), 42)
      var idx = java.lang.Long.hashCode(h) & mask
      var dup = false
      var open = !used(idx)
      while (!open && !dup) {
        if (table(idx) == h) dup = true
        else { idx = (idx + 1) & mask; open = !used(idx) }
      }
      if (!dup) { used(idx) = true; table(idx) = h; out(k) = h; k += 1 }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(
        if (k == m) out else java.util.Arrays.copyOf(out, k))
  }

  /** Column API: shingle_hashes(toks) → ARRAY<LONG>. */
  def shingleHashes(toks: Column): Column =
    ColumnBridge.column(ShingleHashes(ColumnBridge.expression(toks)))
}
