package graft.sources

import graft.SparkSuite
import graft.plans.PlanChecks

/** The co-located-join contract: tables bucketed by the join key into the
  * same bucket count must join with ZERO data shuffles (each bucket pair
  * joins in place), while the identical unbucketed join pays an exchange
  * per side. This is the layout lever that turns a recurring 100 TB
  * shuffle into a one-time write cost. */
class BucketingSpec extends SparkSuite {

  private def withConf[A](pairs: (String, String)*)(f: => A): A = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def writeBucketed(df: org.apache.spark.sql.DataFrame,
      table: String): Unit =
    df.write.mode("overwrite").format("parquet").bucketBy(8, "k")
      .sortBy("k").saveAsTable(table)

  test("bucketed-by-key join plans no exchange; unbucketed join shuffles") {
    val sess = spark
    import sess.implicits._
    val facts = (1L to 1000L).map(i => (i % 100, i, s"f$i"))
      .toDF("k", "fact_id", "payload")
    val dims = (0L until 100L).map(i => (i, s"dim$i")).toDF("k", "attr")
    writeBucketed(facts, "b_facts")
    writeBucketed(dims, "b_dims")
    // disable broadcast (tiny test tables would otherwise broadcast and
    // trivially show zero shuffles) and AQE's small-scan debucketing
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false") {
      val bucketed = spark.table("b_facts").join(spark.table("b_dims"), "k")
      assert(bucketed.count() == 1000)
      assert(PlanChecks.countDataShuffles(bucketed) == 0,
        "bucketed join must be exchange-free")

      val plain = facts.join(dims, "k")
      assert(plain.count() == 1000)
      assert(PlanChecks.countDataShuffles(plain) > 0,
        "control: the unbucketed join should shuffle both sides")
    }
  }

  test("aggregation on the bucket key is also exchange-free") {
    val sess = spark
    import sess.implicits._
    if (!spark.catalog.tableExists("b_facts"))
      writeBucketed((1L to 1000L).map(i => (i % 100, i, s"f$i"))
        .toDF("k", "fact_id", "payload"), "b_facts")
    withConf(
      "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false") {
      val agg = spark.table("b_facts").groupBy("k").count()
      assert(agg.count() == 100)
      assert(PlanChecks.countDataShuffles(agg) == 0,
        "groupBy on the bucket key must reuse the bucketing")
    }
  }
}
