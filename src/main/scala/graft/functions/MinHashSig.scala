package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All 16 MinHash signatures of an `ARRAY<STRING>` shingle set in ONE pass —
  * the native form of the [[MinHashFamily]] construction
  * (`array_min(transform(x_arr, x -> (a_i·x + b_i) mod p))` × 16 over
  * `x_arr = transform(sh_arr, sh -> conv(substring(md5(sh),1,7),16,10))`),
  * value-identical by definition: x is the 28-bit md5-hex prefix, each
  * seed's min is the same (a_i·x + b_i) mod p fold.
  *
  * Why native: the lambda formulation evaluates 17 higher-order functions
  * per row (one digest transform + 16 transform+array_min trees, each a
  * per-element closure dispatch with an intermediate array allocation);
  * this expression runs one digest and one 16-way min update per shingle
  * inside a single primitive loop. Signature construction is the map-side
  * cost of the LSH dedup family (d03/p01 and the streaming near-dup) —
  * at 10⁹ documents it is the stage cost.
  *
  * Returns NULL for an empty shingle array (the lambda form's array_min
  * over an empty array is NULL per seed — callers filter ≥3 tokens first).
  */
case class MinHashSig(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_sigs requires ARRAY<STRING>, got ${other.simpleString}")
    }

  override def prettyName: String = "minhash_sigs"
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.MinHashSig$$.MODULE$$.compute($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  private val n = 16
  private val A: Array[Long] = Array.tabulate(n)(MinHashFamily.a)
  private val B: Array[Long] = Array.tabulate(n)(MinHashFamily.b)
  private val P: Long = MinHashFamily.p

  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  /** 28-bit md5-prefix base hash of one shingle's UTF-8 bytes — THE `x`
    * every member of the family folds through `(a_i·x + b_i) mod p`,
    * identical to the DuckDB oracle's spelling of d03. */
  def baseHash(utf8: Array[Byte]): Long = {
    val digest = md5.get()
    digest.reset()
    val d = digest.digest(utf8)
    // first 7 hex nibbles of the digest = the 28-bit base hash
    ((d(0) & 0xffL) << 20) | ((d(1) & 0xffL) << 12) |
      ((d(2) & 0xffL) << 4) | ((d(3) & 0xf0L) >>> 4)
  }

  /** (sigs of `shingles`) or null when empty. Exposed for codegen.
    * Null ELEMENTS are skipped, matching the lambda spelling (a null
    * shingle's md5 is NULL, and array_min ignores NULL entries) —
    * engine inputs are array_distinct over split() output and carry
    * none, but the function is SQL-registered. */
  def compute(shingles: ArrayData): GenericArrayData = {
    val m = shingles.numElements()
    if (m == 0) return null
    val mins = Array.fill(n)(Long.MaxValue)
    var any = false
    var j = 0
    while (j < m) {
      if (!shingles.isNullAt(j)) {
        any = true
        val x = baseHash(shingles.getUTF8String(j).getBytes)
        var i = 0
        while (i < n) {
          val v = (A(i) * x + B(i)) % P
          if (v < mins(i)) mins(i) = v
          i += 1
        }
      }
      j += 1
    }
    // all-null input ≡ empty for the lambda form (array_min over an
    // all-NULL transform is NULL per seed)
    if (!any) null else new GenericArrayData(mins)
  }

  /** Column API: 16-element ARRAY<BIGINT> of minhash signatures. */
  def minhashSigs(shingles: Column): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expression(shingles)))
}
