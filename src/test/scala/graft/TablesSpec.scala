package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema-drift guard for the corpus loader. The driver's testdata has
  * shipped `events.ts` as TIMESTAMP(NANOS) in some generations and
  * timestamp[us] (written without the UTC flag → Spark reads
  * TIMESTAMP_NTZ) in others; the round-5 switch broke every events query
  * for a full round because the loader assumed one encoding. This spec
  * pins the contract: whatever the file says, `Tables.events` serves
  * session-zoned TimestampType with identical microsecond values.
  *
  * The session's table catalog is pinned too: a table resolves once per
  * session and unchanged files, a rewrite resolves again, a missing path
  * fails as a plain parquet read does.
  */
class TablesSpec extends SparkSuite {

  private def writeEvents(dir: String, tsCol: org.apache.spark.sql.Column,
      tsType: DataType): Unit =
    spark.range(5).select(
      col("id").as("event_id"),
      tsCol.cast(tsType).as("ts"),
      (col("id") % 2).as("user_id"),
      lit("view").as("event_type"),
      lit(1.5).as("value"),
      lit("{}").as("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")

  // one deterministic µs instant per row: 2024-01-01T00:00:00Z + id seconds
  private val baseUs = 1704067200000000L
  private def expectedUs = (0L until 5L).map(baseUs + _ * 1000000L)

  test("int64-nanos ts is truncated to micro timestamps") {
    val dir = tmpDir("tables-nanos")
    // int64 nano values — exactly what nanosAsLong yields for
    // TIMESTAMP(NANOS) files (plus 999 sub-µs nanos that must truncate)
    writeEvents(dir, (col("id") * 1000000L + baseUs) * 1000L + 999L, LongType)
    val ev = Tables(spark, dir).events
    assert(ev.schema("ts").dataType == TimestampType)
    val got = ev.select(unix_micros(col("ts"))).collect().map(_.getLong(0))
      .sorted.toSeq
    assert(got == expectedUs)
  }

  test("timestamp_ntz (timestamp[us] file) ts is served as TimestampType " +
      "with identical micros under the UTC session zone") {
    val dir = tmpDir("tables-us")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    // TimestampNTZType writes parquet TIMESTAMP(MICROS, isAdjustedToUTC
    // =false) — the round-5 testdata encoding
    writeEvents(dir, timestamp_micros(col("id") * 1000000L + baseUs),
      TimestampNTZType)
    val ev = Tables(spark, dir).events
    assert(ev.schema("ts").dataType == TimestampType)
    val got = ev.select(unix_micros(col("ts"))).collect().map(_.getLong(0))
      .sorted.toSeq
    assert(got == expectedUs)
  }

  test("native TimestampType files pass through untouched") {
    val dir = tmpDir("tables-tz")
    writeEvents(dir, timestamp_micros(col("id") * 1000000L + baseUs),
      TimestampType)
    val ev = Tables(spark, dir).events
    assert(ev.schema("ts").dataType == TimestampType)
    val got = ev.select(unix_micros(col("ts"))).collect().map(_.getLong(0))
      .sorted.toSeq
    assert(got == expectedUs)
  }

  private val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  test("a second read of a table its session resolved runs no Spark job " +
      "and still builds an independent relation") {
    val s = spark.newSession()
    assert(jobsOf(Tables(s, sf0001).lineitem) >= 1)
    assert(jobsOf(Tables(s, sf0001).events) >= 1)
    var a, b, ev: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { a = Tables(s, sf0001).lineitem; b = Tables(s, sf0001).lineitem } == 0)
    assert(jobsOf { ev = Tables(s, sf0001).events } == 0)
    assert(ev.schema("ts").dataType == TimestampType)
    assert(a.schema == b.schema)
    val ids = (a.queryExecution.analyzed.output ++ b.queryExecution.analyzed.output)
      .map(_.exprId)
    assert(ids.distinct.size == ids.size, "two reads share attributes")
    assert(a.join(b, a("l_orderkey") === b("l_orderkey")).schema.size ==
      2 * a.schema.size)
    // a session that turned the nanos flag off resolves events again
    s.conf.set(NanosKey, "false")
    assert(jobsOf(Tables(s, sf0001).events) >= 1)
    assert(s.conf.get(NanosKey) == "true")
  }

  test("a table rewritten at the same path resolves again: events.ts from " +
      "int64 nanos to TIMESTAMP_NTZ, and a widened schema") {
    val dir = tmpDir("tables-rewrite")
    writeEvents(dir, (col("id") * 1000000L + baseUs) * 1000L, LongType)
    val first = Tables(spark, dir).events
    assert(first.select(unix_micros(col("ts"))).collect().map(_.getLong(0))
      .sorted.toSeq == expectedUs)
    writeEvents(dir, timestamp_micros(col("id") * 1000000L + baseUs),
      TimestampNTZType)
    val ev = Tables(spark, dir).events
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.select(unix_micros(col("ts"))).collect().map(_.getLong(0))
      .sorted.toSeq == expectedUs)
    spark.range(3).toDF("l_orderkey").write.parquet(s"$dir/lineitem.parquet")
    assert(Tables(spark, dir).lineitem.columns.toSeq == Seq("l_orderkey"))
    spark.range(3).select(col("id").as("l_orderkey"), lit("x").as("l_comment"))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val li = Tables(spark, dir).lineitem
    assert(li.columns.toSeq == Seq("l_orderkey", "l_comment"))
    assert(li.where(col("l_comment") === "x").count() == 3)
  }

  test("a missing table fails with the plain read's PATH_NOT_FOUND " +
      "AnalysisException") {
    val dir = tmpDir("tables-missing")
    for (read <- Seq(() => Tables(spark, dir).lineitem,
        () => Tables(spark, dir).events)) {
      val e = intercept[AnalysisException](read())
      assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
    }
  }

  test("a newSession() child resolves its own catalog entry") {
    val parent = spark.newSession()
    Tables(parent, sf0001).lineitem
    Tables(parent, sf0001).events
    assert(jobsOf(Tables(parent, sf0001).lineitem) == 0)
    val child = parent.newSession()
    child.conf.unset(NanosKey)
    assert(jobsOf(Tables(child, sf0001).lineitem) >= 1)
    assert(jobsOf(Tables(child, sf0001).events) >= 1)
    assert(child.conf.get(NanosKey) == "true")
    assert(jobsOf(Tables(child, sf0001).events) == 0)
  }
}
