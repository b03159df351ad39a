package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema-drift guard for the corpus loader. The driver's testdata has
  * shipped `events.ts` as TIMESTAMP(NANOS) in some generations and
  * timestamp[us] (written without the UTC flag → Spark reads
  * TIMESTAMP_NTZ) in others; the round-5 switch broke every events query
  * for a full round because the loader assumed one encoding. This spec
  * pins the contract: whatever the file says, `Tables.events` serves
  * session-zoned TimestampType with identical microsecond values.
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
}
