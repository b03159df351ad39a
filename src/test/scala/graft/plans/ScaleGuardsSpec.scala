package graft.plans

import graft.SparkSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The injected optimizer guardrail: unpartitioned windows fail at planning
  * when the conf is on, pass when off (default), and partitioned windows
  * are never touched. */
class ScaleGuardsSpec extends SparkSuite {

  private def withGuard[A](on: Boolean)(f: => A): A = {
    spark.conf.set(ScaleGuards.FailUnpartitionedWindowsKey, on.toString)
    try f
    finally spark.conf.unset(ScaleGuards.FailUnpartitionedWindowsKey)
  }

  test("guard ON: an unpartitioned window fails at planning time") {
    val df = spark.range(100)
      .withColumn("rk", row_number().over(Window.orderBy(col("id"))))
    val e = intercept[Exception](withGuard(on = true)(df.collect()))
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("unpartitioned window")),
      s"wrong failure: $e")
  }

  test("guard ON: partitioned windows plan and run normally") {
    val df = spark.range(100)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("id") % 10).orderBy(col("id"))))
    assert(withGuard(on = true)(df.count()) == 100)
  }

  test("guard OFF (default): unpartitioned windows still run") {
    val df = spark.range(100)
      .withColumn("rk", row_number().over(Window.orderBy(col("id"))))
    assert(df.count() == 100)
  }

  test("guard ON: a global aggregate (no window function) is not flagged") {
    assert(withGuard(on = true)(
      spark.range(100).agg(sum(col("id"))).collect()).length == 1)
  }

  private def withCartesianGuard[A](on: Boolean)(f: => A): A = {
    spark.conf.set(ScaleGuards.FailCartesianProductsKey, on.toString)
    try f
    finally spark.conf.unset(ScaleGuards.FailCartesianProductsKey)
  }

  test("cartesian guard ON: a condition-less inner join fails at planning") {
    val a = spark.range(100).toDF("x")
    val b = spark.range(100).toDF("y")
    val e = intercept[Exception](
      withCartesianGuard(on = true)(a.crossJoin(b).collect()))
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("cartesian")), s"wrong failure: $e")
  }

  test("cartesian guard ON: an equi-join (even spelled as a filter above " +
      "the join) is not flagged — pushdown runs before the guard") {
    val a = spark.range(100).toDF("x")
    val b = spark.range(100).toDF("y")
    val joined = withCartesianGuard(on = true)(
      a.join(b, col("x") === col("y")).count())
    assert(joined == 100)
  }

  test("cartesian guard OFF (default): cross joins still run") {
    val a = spark.range(10).toDF("x")
    val b = spark.range(10).toDF("y")
    assert(a.crossJoin(b).count() == 100)
  }

  test("cartesian guard ON: a BROADCAST-hinted cross is exempt — the " +
      "hint is an explicit tiny-side declaration, and the >=-Jaccard " +
      "rewrite's own empty-empty branch runs under the guard") {
    import org.apache.spark.sql.functions.{array_intersect, array_union,
      broadcast, lit, size}
    val a = spark.range(10).toDF("x")
    val b = spark.range(10).toDF("y")
    // user-spelled declared-tiny cross
    assert(withCartesianGuard(on = true)(
      a.crossJoin(broadcast(b)).count()) == 100)
    // the rewrite's own branch: a >=-Jaccard join whose only conjunct
    // is the Jaccard predicate rewrites to (witnessed) UNION
    // (broadcast empty-empty cross) in the same rule batch as the
    // guard — must plan and answer, not throw
    val sess = spark
    import sess.implicits._
    val l = Seq((1L, Seq(10L, 20L)), (4L, Seq[Long]())).toDF("lid", "la")
    val r = Seq((7L, Seq(10L, 20L)), (5L, Seq[Long]())).toDF("rid", "ra")
    val got = withCartesianGuard(on = true)(
      l.join(r, size(array_intersect(col("la"), col("ra")))
          >= lit(0.5) * size(array_union(col("la"), col("ra"))))
        .select("lid", "rid")
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq.sorted)
    assert(got == Seq((1L, 7L), (4L, 5L)), s"got $got")
  }

  // --- stats-gated auto-sampling for the preflight audits -----------------

  private def plan(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.optimizedPlan

  private def effective(l: org.apache.spark.sql.DataFrame,
      r: org.apache.spark.sql.DataFrame): Option[Double] =
    ScaleGuards.effectivePreflightSample(
      ScaleGuards.OverlapPreflightSampleKey,
      ScaleGuards.OverlapPreflightAutoSampleMinBytesKey, plan(l), plan(r))

  test("auto-sampling engages BY DEFAULT (no conf set) when a join " +
      "child's stats cross the byte floor: the fraction targets the row " +
      "budget from the larger side's estimated rows") {
    // Range stats: sizeInBytes = n*8, rowCount = n. 1e9 rows = 8 GB >
    // the 4 GB default floor; target 1M rows → f = 1e-3
    val big = spark.range(1000000000L).toDF("id")
    val small = spark.range(10L).toDF("id")
    val f = effective(big, small)
    assert(f.isDefined, "stats-large child must auto-sample by default")
    assert(math.abs(f.get - 0.001) < 1e-9, s"expected 1e-3, got $f")
    // symmetric: the large side may be either child
    assert(effective(small, big) == f)
  }

  test("auto-sampling stays OFF below the byte floor: small fixtures " +
      "keep the exact, provenance-free audit (the d31/d41 oracle shape)") {
    val a = spark.range(100000L).toDF("id") // 800 KB << 4 GB
    val b = spark.range(50000L).toDF("id")
    assert(effective(a, b).isEmpty)
  }

  test("an explicitly SET sampleFraction wins over the auto gate — " +
      "valid (0,1) values sample at that rate, and an explicit 1.0 is " +
      "a deliberate exact request even above the floor") {
    val big = spark.range(1000000000L).toDF("id")
    val small = spark.range(10L).toDF("id")
    spark.conf.set(ScaleGuards.OverlapPreflightSampleKey, "0.25")
    try assert(effective(big, small).contains(0.25))
    finally spark.conf.unset(ScaleGuards.OverlapPreflightSampleKey)
    spark.conf.set(ScaleGuards.OverlapPreflightSampleKey, "1.0")
    try assert(effective(big, small).isEmpty,
      "explicit 1.0 must disable auto-sampling: the operator asked for exact")
    finally spark.conf.unset(ScaleGuards.OverlapPreflightSampleKey)
  }

  test("a MALFORMED explicit sampleFraction ('0.5x' typo) warns and " +
      "falls through to the AUTO gate instead of forcing exact: the " +
      "operator was trying to ENABLE sampling, and honoring the typo " +
      "as a deliberate exact request would silently disable both the " +
      "requested sampling and the default") {
    val big = spark.range(1000000000L).toDF("id")
    val small = spark.range(10L).toDF("id")
    spark.conf.set(ScaleGuards.OverlapPreflightSampleKey, "0.5x")
    try {
      val f = effective(big, small)
      assert(f.isDefined && math.abs(f.get - 0.001) < 1e-9,
        s"malformed explicit value must degrade to the auto gate; got $f")
      // below the floor the fall-through lands on exact, same as unset
      assert(effective(small, small).isEmpty)
    } finally spark.conf.unset(ScaleGuards.OverlapPreflightSampleKey)
  }

  test("SENTINEL stats (LogicalRDD-style unknown size) fall back to the " +
      "EXACT audit: a Long.MaxValue default size must not clear the " +
      "floor and then sample ~nothing — an empty sample reads " +
      "diagnosis=ok and silently disarms a preflight=fail breaker on " +
      "exactly the frames nobody can size") {
    // a DataFrame over a raw RDD has no computable stats: sizeInBytes
    // is the spark.sql.defaultSizeInBytes sentinel, rowCount None
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    val rddDf = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(1L))),
      schema)
    val small = spark.range(10L).toDF("id")
    assert(plan(rddDf).stats.rowCount.isEmpty,
      "fixture must actually be statless for this test to mean anything")
    assert(effective(rddDf, small).isEmpty,
      "unknown stats must audit exactly (the conservative default)")
    assert(effective(small, rddDf).isEmpty)
    // a Project over the statless leaf SCALES the sentinel by a
    // row-width ratio to an arbitrary plausible size — trust is judged
    // at the LEAVES, where nothing has rescaled anything yet
    val projected = rddDf.select("id")
    assert(effective(projected, small).isEmpty,
      "a projected statless plan is still unsizeable")
  }

  test("a non-file leaf that reports REAL statistics (cached frame) is " +
      "trusted — the declared-unknown screen must not revert modern " +
      "stat-reporting sources to the exact full-scan audit") {
    val big = spark.range(1000000000L).toDF("id").cache()
    try {
      val small = spark.range(10L).toDF("id")
      val f = effective(big, small)
      assert(f.isDefined && f.get < 1.0,
        s"a stat-bearing cached frame above the floor must auto-sample: $f")
    } finally big.unpersist(blocking = false)
  }

  test("above the byte floor but within the row budget stays exact, and " +
      "the floor + target are conf-tunable") {
    val a = spark.range(500L).toDF("id")
    val b = spark.range(400L).toDF("id")
    spark.conf.set(ScaleGuards.OverlapPreflightAutoSampleMinBytesKey, "0")
    try {
      // 500 estimated rows < the 1M default target → f >= 1 → exact
      assert(effective(a, b).isEmpty)
      spark.conf.set(ScaleGuards.PreflightAutoSampleTargetRowsKey, "100")
      try {
        val f = effective(a, b)
        assert(f.isDefined && math.abs(f.get - 0.2) < 1e-9,
          s"100 target over 500 rows = 0.2, got $f")
      } finally spark.conf.unset(ScaleGuards.PreflightAutoSampleTargetRowsKey)
    } finally
      spark.conf.unset(ScaleGuards.OverlapPreflightAutoSampleMinBytesKey)
  }

  test("a malformed two-phase floor fails planning of either theta-join " +
      "rule with an IllegalArgumentException naming the key and value") {
    // a fresh session: a malformed floor on the shared one would break
    // every concurrently planned theta join
    val sess = spark.newSession()
    import sess.implicits._
    sess.conf.set(ScaleGuards.OverlapTwoPhaseMinBytesKey, "8k")
    val overlap = Seq((1L, Seq(1L, 2L))).toDF("lid", "la")
      .join(Seq((2L, Seq(2L, 3L))).toDF("rid", "ra"),
        arrays_overlap(col("la"), col("ra")))
    val hamming = Seq((1L, 5L, "wide")).toDF("lid", "lc", "lp")
      .join(Seq((2L, 7L, "wide")).toDF("rid", "rc", "rp"),
        graft.functions.GraftFunctions.hamming64(col("lc"), col("rc")) <= 2)
    def chain(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: chain(x.getCause))
    for (df <- Seq(overlap, hamming)) {
      val e = intercept[Exception](df.queryExecution.optimizedPlan)
      assert(chain(e).exists(x => x.isInstanceOf[IllegalArgumentException]
        && x.getMessage.contains(ScaleGuards.OverlapTwoPhaseMinBytesKey)
        && x.getMessage.contains("'8k'")), s"wrong failure: $e")
    }
  }

  test("a malformed auto-sample floor or target fails planning with an " +
      "IllegalArgumentException naming the key, only when the rule's " +
      "preflight runs: preflight-off never reads the key") {
    // a fresh session: malformed keys on the shared one would break
    // every concurrently planned theta join with preflight on
    val sess = spark.newSession()
    import sess.implicits._
    def overlap = Seq((1L, Seq(1L, 2L))).toDF("lid", "la")
      .join(Seq((2L, Seq(2L, 3L))).toDF("rid", "ra"),
        arrays_overlap(col("la"), col("ra")))
    def hamming = Seq((1L, 5L, "wide")).toDF("lid", "lc", "lp")
      .join(Seq((2L, 7L, "wide")).toDF("rid", "rc", "rp"),
        graft.functions.GraftFunctions.hamming64(col("lc"), col("rc")) <= 2)
    def chain(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: chain(x.getCause))
    import ScaleGuards._
    for ((key, bad, modeKey, df) <- Seq(
        (OverlapPreflightAutoSampleMinBytesKey, "4g", OverlapPreflightKey,
          () => overlap),
        (OverlapPreflightAutoSampleMinBytesKey, "-1", OverlapPreflightKey,
          () => overlap),
        (HammingPreflightAutoSampleMinBytesKey, "abc", HammingPreflightKey,
          () => hamming),
        (PreflightAutoSampleTargetRowsKey, "0", OverlapPreflightKey,
          () => overlap),
        (PreflightAutoSampleTargetRowsKey, "abc", HammingPreflightKey,
          () => hamming))) {
      sess.conf.set(key, bad)
      try {
        assert(df().count() == 1L, s"$key='$bad' failed with preflight off")
        for (mode <- Seq("warn", "fail")) {
          sess.conf.set(modeKey, mode)
          val e = intercept[Exception](df().queryExecution.optimizedPlan)
          assert(chain(e).exists(x => x.isInstanceOf[IllegalArgumentException]
            && x.getMessage.contains(key) && x.getMessage.contains(s"'$bad'")),
            s"$key='$bad' under $mode: wrong failure: $e")
        }
      } finally { sess.conf.unset(key); sess.conf.unset(modeKey) }
    }
  }

  /** A mistyped preflight mode fails planning of a fired rewrite naming
    * the key and value; unset and `off` plan and run with no audit. */
  private def assertModeTypoFails(modeKey: String,
      join: SparkSession => DataFrame): Unit = {
    // a fresh session: a bad mode on the shared one would break every
    // concurrently planned theta join
    val sess = spark.newSession()
    def chain(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: chain(x.getCause))
    assert(join(sess).count() == 1L, s"$modeKey unset")
    try {
      sess.conf.set(modeKey, "off")
      assert(join(sess).count() == 1L, s"$modeKey=off")
      for (bad <- Seq("fial", "true", "on")) {
        sess.conf.set(modeKey, bad)
        val e = intercept[Exception](join(sess).queryExecution.optimizedPlan)
        assert(chain(e).exists(x => x.isInstanceOf[IllegalArgumentException]
          && x.getMessage.contains(modeKey) && x.getMessage.contains(s"'$bad'")),
          s"$modeKey='$bad': wrong failure: $e")
      }
    } finally sess.conf.unset(modeKey)
  }

  test("a mistyped overlap preflight mode fails planning with an " +
      "IllegalArgumentException naming the key, instead of silently " +
      "turning the skew circuit breaker off") {
    assertModeTypoFails(ScaleGuards.OverlapPreflightKey, { sess =>
      import sess.implicits._
      Seq((1L, Seq(1L, 2L))).toDF("lid", "la")
        .join(Seq((2L, Seq(2L, 3L))).toDF("rid", "ra"),
          arrays_overlap(col("la"), col("ra")))
    })
  }

  test("a mistyped hamming preflight mode fails planning with an " +
      "IllegalArgumentException naming the key, instead of silently " +
      "turning the skew circuit breaker off") {
    assertModeTypoFails(ScaleGuards.HammingPreflightKey, { sess =>
      import sess.implicits._
      Seq((1L, 5L, "wide")).toDF("lid", "lc", "lp")
        .join(Seq((2L, 7L, "wide")).toDF("rid", "rc", "rp"),
          graft.functions.GraftFunctions.hamming64(col("lc"), col("rc")) <= 2)
    })
  }
}
