package graft.plans

import graft.SparkSuite
import graft.functions.GraftFunctions.hamming64
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** The opt-in preflight hook (`spark.graft.preflight = warn`) on the
  * Hamming block rule: on rewrite fire it runs the d41 hot-block audit over the join's children and
  * logs estimate + worst (block-index, block-value); with the conf
  * unset it stays silent — OverlapPreflightSpec's contract, transposed
  * to the second rewrite family. */
class HammingPreflightSpec extends SparkSuite {

  /** Collects the rewrite rule's log lines while `body` runs. */
  private def capturing(body: => Unit): Seq[String] =
    LogCapture.capturing(classOf[HammingBlockJoinRewrite])(body)

  /** Golden-ratio-spread high bits with the low 5-bit block CLEARED:
    * block 0's value 0 appears in every row of both sides (the
    * zero-heavy-block skew of degenerate fingerprints), contributing
    * 30·30 = 900 candidate rows through one (index, value) key while
    * the other twelve blocks stay near-uniform. */
  private def skewedJoin(): DataFrame = {
    val sess = spark
    import sess.implicits._
    val fps = (1L to 30L).map(i => (i * 0x9E3779B97F4A7C15L) & ~31L)
    val left = fps.zipWithIndex
      .map { case (f, i) => (i.toLong, f) }.toDF("lid", "lfp")
    val right = fps.zipWithIndex
      .map { case (f, i) => (i.toLong, f) }.toDF("rid", "rfp")
    left.join(right, hamming64(col("lfp"), col("rfp")) <= 12)
  }

  private def skewedJoinCount(): Long = skewedJoin().count()

  /** The skewed join rewritten by a rule whose preflight samples as
    * `gate` says (spec-sized fixtures sit far below the stats floor),
    * then counted. */
  private def gatedCount(gate: ThetaJoinRewrite.SampleGate): Long =
    ColumnBridge.dataFrame(spark, new HammingBlockJoinRewrite(spark, gate)(
      skewedJoin().queryExecution.analyzed)).count()

  test("preflight=warn logs the candidate estimate with the hot block " +
      "named and the hot-block diagnosis") {
    spark.conf.set(ScaleGuards.PreflightKey, "warn")
    try {
      // at least the 30 distance-0 diagonal pairs must survive
      val lines = capturing { assert(skewedJoinCount() >= 30L) }
      val pf = lines.filter(_.contains("hamming-block rewrite preflight:"))
      assert(pf.nonEmpty, s"expected a preflight line, got: $lines")
      val line = pf.head
      assert(line.contains("worst_block_index=0"), line)
      assert(line.contains("worst_block_value=0"), line)
      assert(line.contains("max_block_rows=900"), line)
      assert(line.contains("hot-block"), line)
    } finally spark.conf.unset(ScaleGuards.PreflightKey)
  }

  test("without the conf the hook stays silent") {
    val lines = capturing { assert(skewedJoinCount() >= 30L) }
    assert(!lines.exists(_.contains("hamming-block rewrite preflight")),
      s"preflight must not run unasked: $lines")
  }

  test("sampled preflight names the SAME worst block and diagnosis as " +
      "the exact audit, with sample_fraction provenance on the line") {
    spark.conf.set(ScaleGuards.PreflightKey, "warn")
    try {
      val lines = capturing {
        assert(gatedCount((_, _) => Some(0.5)) >= 30L)
      }
      val pf = lines.filter(_.contains("hamming-block rewrite preflight:"))
      assert(pf.nonEmpty, s"expected a preflight line, got: $lines")
      val line = pf.head
      // block 0's value 0 appears in every row of both sides: any
      // non-empty sample names the same hot (index, value) key
      assert(line.contains("worst_block_index=0"), line)
      assert(line.contains("worst_block_value=0"), line)
      assert(line.contains("hot-block"), line)
      assert(line.contains("sample_fraction=0.5"), line)
      // 1/f²-scaled estimate of the 900-row hot block: bounded above by
      // the all-rows-sampled 30·30·4 = 3600
      val hot = "max_block_rows=(\\d+)".r
        .findFirstMatchIn(line).map(_.group(1).toLong)
      assert(hot.exists(h => h > 0 && h <= 3600L), line)
    } finally spark.conf.unset(ScaleGuards.PreflightKey)
  }

  test("preflight=fail refuses to plan the skewed-block join with the " +
      "audit line in the abort") {
    spark.conf.set(ScaleGuards.PreflightKey, "fail")
    try {
      val ex = intercept[PreflightAbort] { skewedJoinCount() }
      assert(ex.getMessage.contains("hot-block"), ex.getMessage)
      assert(ex.getMessage.contains("worst_block_index=0"), ex.getMessage)
    } finally spark.conf.unset(ScaleGuards.PreflightKey)
  }
}
