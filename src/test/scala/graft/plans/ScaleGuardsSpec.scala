package graft.plans

import graft.SparkSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The injected optimizer guardrails (unpartitioned windows and cartesian
  * joins fail at planning when their key is on, pass when off, the
  * default), the one parse of the four on/off plan keys, and the
  * rewrite-time preflight's settings: its stats-driven sample gate and
  * its one mode key. */
class ScaleGuardsSpec extends SparkSuite {

  /** `t` and its causes, outermost first. */
  private def chain(t: Throwable): Seq[Throwable] =
    Option(t).toSeq.flatMap(x => x +: chain(x.getCause))

  private def messages(t: Throwable): Seq[String] =
    chain(t).flatMap(x => Option(x.getMessage))

  /** Planning `df` fails with an IllegalArgumentException whose message
    * holds every one of `parts`. */
  private def assertPlanningFails(df: DataFrame, parts: String*): Unit = {
    val e = intercept[Exception](df.queryExecution.optimizedPlan)
    assert(chain(e).exists(x => x.isInstanceOf[IllegalArgumentException]
      && parts.forall(x.getMessage.contains)), s"wrong failure: $e")
  }

  /** A one-row overlap theta join and a one-row Hamming theta join in
    * `sess`: each fires its rewrite rule. */
  private def overlapJoin(sess: SparkSession): DataFrame = {
    import sess.implicits._
    Seq((1L, Seq(1L, 2L))).toDF("lid", "la")
      .join(Seq((2L, Seq(2L, 3L))).toDF("rid", "ra"),
        arrays_overlap(col("la"), col("ra")))
  }

  private def hammingJoin(sess: SparkSession): DataFrame = {
    import sess.implicits._
    Seq((1L, 5L, "wide")).toDF("lid", "lc", "lp")
      .join(Seq((2L, 7L, "wide")).toDF("rid", "rc", "rp"),
        graft.functions.GraftFunctions.hamming64(col("lc"), col("rc")) <= 2)
  }

  private def withGuard[A](on: Boolean)(f: => A): A = {
    spark.conf.set(ScaleGuards.FailUnpartitionedWindowsKey, on.toString)
    try f
    finally spark.conf.unset(ScaleGuards.FailUnpartitionedWindowsKey)
  }

  test("guard ON: an unpartitioned window fails at planning time") {
    val df = spark.range(100)
      .withColumn("rk", row_number().over(Window.orderBy(col("id"))))
    val e = intercept[Exception](withGuard(on = true)(df.collect()))
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

  test("the four on/off plan keys take true or false in any case, and " +
      "any other value fails planning with an IllegalArgumentException " +
      "naming the key and the value") {
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    // a fresh session: a bad value on the shared one would break every
    // concurrently planned query
    val sess = spark.newSession()
    def window = sess.range(100)
      .withColumn("rk", row_number().over(Window.orderBy(col("id"))))
    def cross = sess.range(10).toDF("x").crossJoin(sess.range(10).toDF("y"))
    // a guard is armed when planning refuses the query; a rewrite is on
    // when the join became an explode (both fixtures plan in place)
    def refused(df: DataFrame) =
      scala.util.Try(df.queryExecution.optimizedPlan).failed.toOption
        .exists(chain(_).exists(_.isInstanceOf[IllegalStateException]))
    def rewritten(df: DataFrame) =
      df.queryExecution.optimizedPlan.exists(_.isInstanceOf[Generate])
    import ScaleGuards._
    for ((key, default, query, armed) <- Seq[(String, Boolean,
        () => DataFrame, DataFrame => Boolean)](
        (FailUnpartitionedWindowsKey, false, () => window, refused),
        (FailCartesianProductsKey, false, () => cross, refused),
        (OverlapJoinRewriteKey, true, () => overlapJoin(sess), rewritten),
        (HammingBlockJoinRewriteKey, true, () => hammingJoin(sess),
          rewritten))) {
      assert(armed(query()) == default, s"$key unset")
      try {
        for ((v, on) <- Seq("TRUE" -> true, "false" -> false)) {
          sess.conf.set(key, v)
          assert(armed(query()) == on, s"$key=$v")
        }
        for (bad <- Seq("on", "off", "1")) {
          sess.conf.set(key, bad)
          assertPlanningFails(query(), key, s"'$bad'")
        }
      } finally sess.conf.unset(key)
    }
  }

  // --- the preflight's stats-driven sample gate ----------------------------

  private def plan(df: DataFrame) = df.queryExecution.optimizedPlan

  private def sample(l: DataFrame, r: DataFrame): Option[Double] =
    ScaleGuards.preflightSample(plan(l), plan(r))

  test("auto-sampling engages BY DEFAULT (no conf set) when a join " +
      "child's stats cross the byte floor: the fraction targets the row " +
      "budget from the larger side's estimated rows") {
    // Range stats: sizeInBytes = n*8, rowCount = n. 1e9 rows = 8 GB >
    // the 4 GB floor; target 1M rows → f = 1e-3
    val big = spark.range(1000000000L).toDF("id")
    val small = spark.range(10L).toDF("id")
    val f = sample(big, small)
    assert(f.isDefined, "a stats-large child must sample")
    assert(math.abs(f.get - 0.001) < 1e-9, s"expected 1e-3, got $f")
    // symmetric: the large side may be either child
    assert(sample(small, big) == f)
  }

  test("auto-sampling stays OFF below the byte floor: small fixtures " +
      "keep the exact, provenance-free audit (the d31/d41 oracle shape)") {
    val a = spark.range(100000L).toDF("id") // 800 KB << 4 GB
    val b = spark.range(50000L).toDF("id")
    assert(sample(a, b).isEmpty)
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
    assert(sample(rddDf, small).isEmpty,
      "unknown stats must audit exactly (the conservative default)")
    assert(sample(small, rddDf).isEmpty)
    // a Project over the statless leaf SCALES the sentinel by a
    // row-width ratio to an arbitrary plausible size — trust is judged
    // at the LEAVES, where nothing has rescaled anything yet
    val projected = rddDf.select("id")
    assert(sample(projected, small).isEmpty,
      "a projected statless plan is still unsizeable")
  }

  test("a non-file leaf that reports REAL statistics (cached frame) is " +
      "trusted — the declared-unknown screen must not revert modern " +
      "stat-reporting sources to the exact full-scan audit") {
    val big = spark.range(1000000000L).toDF("id").cache()
    try {
      val small = spark.range(10L).toDF("id")
      val f = sample(big, small)
      assert(f.isDefined && f.get < 1.0,
        s"a stat-bearing cached frame above the floor must sample: $f")
    } finally big.unpersist(blocking = false)
  }

  test("above the byte floor but within the row budget stays exact; the " +
      "floor and the target are the gate's parameters") {
    val (a, b) = (plan(spark.range(500L).toDF("id")),
      plan(spark.range(400L).toDF("id")))
    // 500 estimated rows < the 1M default target → f >= 1 → exact
    assert(ScaleGuards.preflightSample(a, b, minBytes = 0).isEmpty)
    val f = ScaleGuards.preflightSample(a, b, minBytes = 0, targetRows = 100)
    assert(f.isDefined && math.abs(f.get - 0.2) < 1e-9,
      s"100 target over 500 rows = 0.2, got $f")
  }

  test("a malformed two-phase floor fails planning of either theta-join " +
      "rule with an IllegalArgumentException naming the key and value") {
    // a fresh session: a malformed floor on the shared one would break
    // every concurrently planned theta join
    val sess = spark.newSession()
    sess.conf.set(ScaleGuards.OverlapTwoPhaseMinBytesKey, "8k")
    for (df <- Seq(overlapJoin(sess), hammingJoin(sess)))
      assertPlanningFails(df, ScaleGuards.OverlapTwoPhaseMinBytesKey, "'8k'")
  }

  /** A mistyped spark.graft.preflight mode fails planning of a fired
    * rewrite naming the key and value; unset and `off` plan and run with
    * no audit. */
  private def assertModeTypoFails(join: SparkSession => DataFrame): Unit = {
    // a fresh session: a bad mode on the shared one would break every
    // concurrently planned theta join
    val sess = spark.newSession()
    val key = ScaleGuards.PreflightKey
    assert(join(sess).count() == 1L, s"$key unset")
    try {
      sess.conf.set(key, "off")
      assert(join(sess).count() == 1L, s"$key=off")
      for (bad <- Seq("fial", "true", "on")) {
        sess.conf.set(key, bad)
        assertPlanningFails(join(sess), key, s"'$bad'")
      }
    } finally sess.conf.unset(key)
  }

  test("a mistyped overlap preflight mode fails planning with an " +
      "IllegalArgumentException naming the key, instead of silently " +
      "turning the skew circuit breaker off") {
    assertModeTypoFails(overlapJoin)
  }

  test("a mistyped hamming preflight mode fails planning with an " +
      "IllegalArgumentException naming the key, instead of silently " +
      "turning the skew circuit breaker off") {
    assertModeTypoFails(hammingJoin)
  }

  test("a retired per-family preflight mode key fails planning of either " +
      "family's fired rewrite, naming spark.graft.preflight, so a stale " +
      "fail-mode deployment cannot silently lose its circuit breaker") {
    val sess = spark.newSession()
    for (old <- Seq("spark.graft.overlapJoinRewrite.preflight",
        "spark.graft.hammingBlockJoinRewrite.preflight");
        join <- Seq(overlapJoin _, hammingJoin _)) {
      sess.conf.set(old, "fail")
      try assertPlanningFails(join(sess), old, ScaleGuards.PreflightKey)
      finally sess.conf.unset(old)
    }
  }
}
