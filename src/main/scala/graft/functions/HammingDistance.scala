package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

/** Hamming distance between two 64-bit fingerprints — the SimHash near-dup
  * join predicate (DedupOps d04 produces the fingerprints; this scores
  * candidate pairs).
  *
  * Implemented as a native Catalyst `Expression` with `doGenCode` (SURVEY
  * §2.8 preference order: native expression > UDF): whole-stage codegen
  * emits a single `Long.bitCount(a ^ b)` intrinsic per row — branch-free,
  * no boxing, no UDF serialization — which is what a hamming-threshold join
  * over billions of fingerprint pairs needs.
  */
case class HammingDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"hamming64 requires (BIGINT, BIGINT), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  override def prettyName: String = "hamming64"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    java.lang.Long.bitCount(l.asInstanceOf[Long] ^ r.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"${ev.value} = java.lang.Long.bitCount($l ^ $r);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HammingDistance =
    copy(left = newLeft, right = newRight)
}

object GraftFunctions {
  /** Column API for [[HammingDistance]]. */
  def hamming64(a: Column, b: Column): Column =
    ColumnBridge.column(
      HammingDistance(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column API for [[SortedPairs]] — a generator column: selecting it
    * yields the two output columns `(a_id, b_id)` directly. */
  def sorted_pairs(ids: Column): Column =
    ColumnBridge.column(SortedPairs(ColumnBridge.expression(ids)))
}

/** Session extension registering the engine's SQL functions:
  * `spark.builder.withExtensions(new GraftExtensions)` or config
  * `spark.sql.extensions=graft.functions.GraftExtensions` — after which
  * `SELECT hamming64(a, b)` works in plain SQL. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // scale guardrails (opt-in by conf — see ScaleGuards)
    ext.injectOptimizerRule(_ => new graft.plans.FailUnpartitionedWindows)
    ext.injectOptimizerRule(_ => new graft.plans.FailCartesianProducts)
    // exact pigeonhole rewrite: hamming64 ≤ k theta-join → posexplode
    // block equi-join (default ON — see HammingBlockJoinRewrite)
    ext.injectOptimizerRule { spark =>
      // piggyback on the factory call (re-invoked per optimizer
      // execution; the registration fast-path is a free no-op after
      // the first) to ALSO register the rewrite rules in the "User
      // Provided Optimizers" batch, which runs AFTER RewriteSubquery:
      // SQL `WHERE [NOT] EXISTS` decontamination spellings only BECOME
      // semi/anti joins there, so the operator-optimization instances
      // injected below never see them and the query would silently
      // keep a nested-loop plan (round-11 finding). The rules are
      // fixed points (their outputs are equi-joins, and equi-joined
      // conditions are skipped), so running them again late is a
      // no-op for everything already rewritten.
      GraftExtensions.registerPostSubqueryRules(spark)
      new graft.plans.HammingBlockJoinRewrite(spark)
    }
    // exact explode rewrite: arrays_overlap theta-join → element
    // equi-join (default ON — see SetOverlapJoinRewrite)
    ext.injectOptimizerRule(spark =>
      new graft.plans.SetOverlapJoinRewrite(spark))
    // arity-checked builders: a wrong-arity SQL call otherwise threw a
    // raw IndexOutOfBoundsException from exprs(1) during resolution —
    // an opaque internal error with no mention of the signature
    def arity(name: String, n: Int)(build: Seq[Expression] => Expression)
        : Seq[Expression] => Expression =
      exprs => {
        if (exprs.length != n)
          throw new IllegalArgumentException(
            s"$name expects $n argument(s), got ${exprs.length}")
        build(exprs)
      }
    ext.injectFunction((
      new FunctionIdentifier("hamming64"),
      new ExpressionInfo(classOf[HammingDistance].getName, "hamming64"),
      arity("hamming64", 2)(e => HammingDistance(e.head, e(1)))))
    ext.injectFunction((
      new FunctionIdentifier("dot_f64"),
      new ExpressionInfo(classOf[DotDouble].getName, "dot_f64"),
      arity("dot_f64", 2)(e => DotDouble(e.head, e(1)))))
    ext.injectFunction((
      new FunctionIdentifier("minhash_sigs"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sigs"),
      arity("minhash_sigs", 1)(e => MinHashSig(e.head))))
    ext.injectFunction((
      new FunctionIdentifier("hyperplane_bucket"),
      new ExpressionInfo(classOf[HyperplaneBucket].getName, "hyperplane_bucket"),
      arity("hyperplane_bucket", 1)(e => HyperplaneBucket(e.head))))
    ext.injectFunction((
      new FunctionIdentifier("simhash32"),
      new ExpressionInfo(classOf[SimHash32].getName, "simhash32"),
      arity("simhash32", 1)(e => SimHash32(e.head))))
    ext.injectFunction((
      new FunctionIdentifier("sorted_pairs"),
      new ExpressionInfo(classOf[SortedPairs].getName, "sorted_pairs"),
      arity("sorted_pairs", 1)(e => SortedPairs(e.head))))
  }
}

object GraftExtensions {
  /** Second registration of the rewrite rules, in
    * `spark.experimental.extraOptimizations` — SparkOptimizer's "User
    * Provided Optimizers" fixed-point batch, which runs after the
    * RewriteSubquery batch that turns `WHERE [NOT] EXISTS` into
    * semi/anti joins. Without it those SQL spellings keep their
    * nested-loop plans: the extension-injected instances live inside
    * operator optimization, BEFORE the subquery rewrite, and never see
    * the join.
    *
    * Called on EVERY optimizer execution (Optimizer.batches is a def
    * that re-invokes the extension factories per query), so the
    * already-registered path must be free: no lock, no allocation —
    * only the slow path (first query of a session whose experimental
    * list lacks a rule) synchronizes, and it re-checks under the lock.
    * Cloned sessions inherit the parent's list (ExperimentalMethods
    * .clone copies it), so the inherited INSTANCES serve the clone —
    * safe because the rules read all conf through the thread-active
    * SQLConf ([[graft.plans.RewriteSupport.activeConf]]), never their
    * captured session. */
  private[graft] def registerPostSubqueryRules(
      spark: org.apache.spark.sql.SparkSession): Unit = {
    def missing(cur: Seq[_]) =
      !cur.exists(_.isInstanceOf[graft.plans.HammingBlockJoinRewrite]) ||
        !cur.exists(_.isInstanceOf[graft.plans.SetOverlapJoinRewrite])
    if (missing(spark.experimental.extraOptimizations)) synchronized {
      val cur = spark.experimental.extraOptimizations
      if (missing(cur)) {
        val add = Seq(
          new graft.plans.HammingBlockJoinRewrite(spark),
          new graft.plans.SetOverlapJoinRewrite(spark))
          .filterNot(r => cur.exists(_.getClass == r.getClass))
        spark.experimental.extraOptimizations = cur ++ add
      }
    }
  }
}
