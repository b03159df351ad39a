package graft.plans

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** The opt-in preflight hook (`spark.graft.preflight = warn`): on
  * overlap-rewrite fire it runs the d31 hot-element audit over the
  * join's children and logs estimate + worst element; with the conf
  * unset it stays silent (no side job, no log line). */
class OverlapPreflightSpec extends SparkSuite {

  /** Collects the rewrite rule's log lines while `body` runs. */
  private def capturing(body: => Unit): Seq[String] =
    LogCapture.capturing(classOf[SetOverlapJoinRewrite])(body)

  private def hotJoin(): DataFrame = {
    val sess = spark
    import sess.implicits._
    // element 1L appears in EVERY row of both sides — a 100% hot element
    val left = (1L to 30L).map(i => (i, Seq(1L, i + 100))).toDF("lid", "la")
    val right = (1L to 30L).map(i => (i, Seq(1L, i + 900))).toDF("rid", "ra")
    left.join(right, arrays_overlap(col("la"), col("ra")))
  }

  private def hotJoinCount(): Long = hotJoin().count()

  /** `df` with its join rewritten by a rule whose preflight samples as
    * `gate` says: spec-sized fixtures sit far below the stats floor, so
    * a sampled audit needs the gate substituted. The rewritten plan is
    * an equi-join the session's own rules leave alone. */
  private def gated(df: DataFrame, gate: ThetaJoinRewrite.SampleGate)
      : DataFrame = ColumnBridge.dataFrame(spark,
    new SetOverlapJoinRewrite(spark, gate)(df.queryExecution.analyzed))

  /** The stats gate, lowered so a spec-sized fixture counts as big: floor
    * 0 engages it, a 3-row target forces f < 1 at any honest row
    * estimate. */
  private val lowGate: ThetaJoinRewrite.SampleGate =
    ScaleGuards.preflightSample(_, _, minBytes = 0, targetRows = 3)

  test("preflight=warn logs the candidate estimate with the hot element " +
      "named and the hot-element diagnosis") {
    spark.conf.set(ScaleGuards.PreflightKey, "warn")
    try {
      val lines = capturing { assert(hotJoinCount() >= 900L) }
      val pf = lines.filter(_.contains("overlap-join rewrite preflight:"))
      assert(pf.nonEmpty, s"expected a preflight line, got: $lines")
      val line = pf.head
      assert(line.contains("worst_element=1"), line)
      assert(line.contains("est_candidate_rows=900"), line)
      assert(line.contains("hot-element"), line)
    } finally spark.conf.unset(ScaleGuards.PreflightKey)
  }

  test("sampled preflight (sampleFraction in (0,1)) names the SAME " +
      "worst element and diagnosis as the exact audit and stamps the " +
      "line with sample_fraction provenance") {
    spark.conf.set(ScaleGuards.PreflightKey, "warn")
    try {
      val lines = capturing {
        assert(gated(hotJoin(), (_, _) => Some(0.5)).count() >= 900L)
      }
      val pf = lines.filter(_.contains("overlap-join rewrite preflight:"))
      assert(pf.nonEmpty, s"expected a preflight line, got: $lines")
      val line = pf.head
      // element 1L is in EVERY row of both sides: any non-empty sample
      // sees it as the only common element — same worst key, same
      // diagnosis, share still 10000 bp (ratios are scale-invariant)
      assert(line.contains("worst_element=1"), line)
      assert(line.contains("max_share_bp=10000"), line)
      assert(line.contains("hot-element"), line)
      assert(line.contains("sample_fraction=0.5"), line)
      // the absolute estimate is scaled by 1/f² = 4: with ~15 rows
      // sampled per side it lands near the exact 900, and can never
      // EXCEED the all-rows-sampled 30·30·4 = 3600 bound
      val est = "est_candidate_rows=(\\d+)".r
        .findFirstMatchIn(line).map(_.group(1).toLong)
      assert(est.exists(e => e > 0 && e <= 3600L), line)
    } finally spark.conf.unset(ScaleGuards.PreflightKey)
  }

  test("sampled preflight under fail mode refuses the hot join with " +
      "the sampling provenance carried in the abort — an estimate-based " +
      "refusal must be readable as one") {
    spark.conf.set(ScaleGuards.PreflightKey, "fail")
    try {
      val ex = intercept[PreflightAbort] {
        gated(hotJoin(), (_, _) => Some(0.5))
      }
      assert(ex.getMessage.contains("hot-element"), ex.getMessage)
      assert(ex.getMessage.contains("worst_element=1"), ex.getMessage)
      assert(ex.getMessage.contains("sample_fraction=0.5"), ex.getMessage)
    } finally spark.conf.unset(ScaleGuards.PreflightKey)
  }

  test("preflight=fail refuses to plan the hot join (PreflightAbort " +
      "carries the audit line), and lets a clean join through") {
    spark.conf.set(ScaleGuards.PreflightKey, "fail")
    try {
      val ex = intercept[PreflightAbort] { hotJoinCount() }
      assert(ex.getMessage.contains("hot-element"), ex.getMessage)
      assert(ex.getMessage.contains("worst_element=1"), ex.getMessage)
      assert(ex.getMessage.contains("preflight=fail"), ex.getMessage)
      assert(!ex.getMessage.contains("sample_fraction"), ex.getMessage)
      // a join whose audit says 'ok' plans and runs under fail mode
      val sess = spark
      import sess.implicits._
      val left = (1L to 30L).map(i => (i, Seq(i + 100))).toDF("lid", "la")
      val right = (1L to 30L).map(i => (i, Seq(i + 100))).toDF("rid", "ra")
      assert(left.join(right, arrays_overlap(col("la"), col("ra")))
        .count() == 30L, "clean join must survive fail mode")
    } finally spark.conf.unset(ScaleGuards.PreflightKey)
  }

  test("preflight=warn on the >=-Jaccard spelling prices the " +
      "empty-empty branch: |E_l|*|E_r| required rows named with their " +
      "own diagnosis") {
    val sess = spark
    import sess.implicits._
    spark.conf.set(ScaleGuards.PreflightKey, "warn")
    try {
      // 20% empty arrays per side (2 of 10): the >= spelling's union
      // branch MUST emit the 2*2 empty-empty pairs, a volume no
      // witnessed-element frequency can see; the witnessed part is 8
      // identical singleton pairs, so the empty-empty share (4 of 12 =
      // 3333 bp) dominates the warning
      val left = (1L to 10L).map(i =>
        (i, if (i <= 2) Seq.empty[Long] else Seq(i + 100))).toDF("lid", "la")
      val right = (1L to 10L).map(i =>
        (i, if (i <= 2) Seq.empty[Long] else Seq(i + 100))).toDF("rid", "ra")
      val lines = capturing {
        val n = left.join(right,
          size(array_intersect(col("la"), col("ra"))) >=
            lit(0.5) * size(array_union(col("la"), col("ra")))).count()
        assert(n == 12L, "8 witnessed singleton pairs + 4 empty-empty")
      }
      val pf = lines.filter(_.contains("overlap-join rewrite preflight:"))
      assert(pf.nonEmpty, s"expected a preflight line, got: $lines")
      val line = pf.head
      assert(line.contains("empty_empty_rows=4"), line)
      assert(line.contains("est_candidate_rows=12"), line)
      assert(line.contains("empty-empty"), line)
      // the STRUCTURED fields must describe the DIAGNOSED problem: the
      // empty-empty diagnosis is keyed off empty_share_bp (3333 bp),
      // and reporting max_share_bp/worst_element beside it would send
      // a dashboard operator to cap a harmless element
      val audit = graft.plans.PreflightLog.recent()
        .find(_.diagnosis.startsWith("empty-empty"))
      assert(audit.isDefined,
        s"expected a structured empty-empty audit: " +
          s"${graft.plans.PreflightLog.recent().map(_.diagnosis)}")
      assert(audit.get.shareBp.contains(3333L), audit.get.toString)
      assert(audit.get.worstKey == "empty_empty_rows=4", audit.get.toString)
    } finally spark.conf.unset(ScaleGuards.PreflightKey)
  }

  test("preflight fires on the >=-Jaccard SEMI/ANTI paths too — the " +
      "decontamination deployments: warn names the empty-empty diagnosis " +
      "on a semi join, fail refuses to plan the anti join") {
    val sess = spark
    import sess.implicits._
    // 2 empty arrays per side; right matches left only for i=3..6, so
    // semi keeps 6 (4 witnessed + 2 empty-matched) and anti keeps 4 —
    // non-trivial both ways. Witnessed candidates = 4 singleton pairs,
    // empty-empty required rows = 2*2 = 4 → 5000 bp, the dominant share
    val left = (1L to 10L).map(i =>
      (i, if (i <= 2) Seq.empty[Long] else Seq(i + 100))).toDF("lid", "la")
    val right = (1L to 10L).map(i =>
      (i, if (i <= 2) Seq.empty[Long]
          else if (i <= 6) Seq(i + 100) else Seq(i + 900))).toDF("rid", "ra")
    def jaccardGE = size(array_intersect(col("la"), col("ra"))) >=
      lit(0.5) * size(array_union(col("la"), col("ra")))
    spark.conf.set(ScaleGuards.PreflightKey, "warn")
    try {
      val lines = capturing {
        assert(left.join(right, jaccardGE, "left_semi").count() == 6L,
          "4 witnessed + 2 empty-matched left rows")
      }
      val pf = lines.filter(_.contains("overlap-join rewrite preflight:"))
      assert(pf.nonEmpty, s"expected a preflight line, got: $lines")
      assert(pf.head.contains("empty_empty_rows=4"), pf.head)
      assert(pf.head.contains("empty-empty"), pf.head)
    } finally spark.conf.unset(ScaleGuards.PreflightKey)
    spark.conf.set(ScaleGuards.PreflightKey, "fail")
    try {
      val ex = intercept[PreflightAbort] {
        left.join(right, jaccardGE, "left_anti").count()
      }
      assert(ex.getMessage.contains("empty-empty"), ex.getMessage)
      assert(ex.getMessage.contains("preflight=fail"), ex.getMessage)
    } finally spark.conf.unset(ScaleGuards.PreflightKey)
  }

  test("seeded sweep: an ACTIVE auto-sampled warn preflight never " +
      "changes query RESULTS — the audit is observation, and sampling " +
      "must stay on the observation side of that line") {
    val sess = spark
    import sess.implicits._
    def counts(run: DataFrame => DataFrame): Seq[Long] = (1 to 5).map {
      seed =>
        val rnd = new scala.util.Random(seed * 7919)
        val left = (1L to 40L).map(i =>
          (i, Seq.fill(3)(rnd.nextInt(30).toLong))).toDF("lid", "la")
        val right = (1L to 40L).map(i =>
          (i, Seq.fill(3)(rnd.nextInt(30).toLong))).toDF("rid", "ra")
        run(left.join(right, arrays_overlap(col("la"), col("ra")))).count()
    }
    val baseline = counts(identity)
    spark.conf.set(ScaleGuards.PreflightKey, "warn")
    try {
      val lines = capturing {
        assert(counts(gated(_, lowGate)) == baseline,
          "sampled-audit mode must answer identically to no-audit mode")
      }
      assert(lines.count(_.contains("sample_fraction=")) == 5,
        s"every round must run a sampled audit: $lines")
    } finally spark.conf.unset(ScaleGuards.PreflightKey)
  }

  test("streaming children skip the audit: a hot stream-static join " +
      "fires the rewrite and runs under preflight=fail with no audit") {
    // a fresh session: fail mode on the shared one would refuse other
    // suites' hot joins
    val sess = spark.newSession()
    import sess.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sess.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    sess.conf.set(ScaleGuards.PreflightKey, "fail")
    val src = MemoryStream[(Long, Seq[Long])]
    val right = (1L to 30L).map(i => (i, Seq(1L, i + 900))).toDF("rid", "ra")
    val q = src.toDF().toDF("lid", "la")
      .join(right, arrays_overlap(col("la"), col("ra")))
      .writeStream.format("memory").queryName("preflight_stream_skip")
      .outputMode("append").start()
    try {
      val lines = capturing {
        src.addData((1L to 30L).map(i => (i, Seq(1L, i + 100))): _*)
        q.processAllAvailable()
      }
      assert(sess.table("preflight_stream_skip").count() == 900L)
      val plan = new java.io.ByteArrayOutputStream()
      Console.withOut(plan)(q.explain())
      assert(plan.toString.contains("Generate"),
        s"the rewrite must fire on the streaming join: $plan")
      assert(!lines.exists(_.contains("overlap-join rewrite preflight")),
        s"a streaming child must skip the audit: $lines")
    } finally {
      q.stop()
      sess.sql("DROP TABLE IF EXISTS preflight_stream_skip")
    }
  }

  test("without the conf the hook stays silent") {
    val lines = capturing { assert(hotJoinCount() >= 900L) }
    assert(!lines.exists(_.contains("overlap-join rewrite preflight")),
      s"preflight must not run unasked: $lines")
  }
}
