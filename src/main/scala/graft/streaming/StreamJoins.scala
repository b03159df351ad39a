package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Windowed stream-stream joins (J1-J4, streams.clj:149-179): key-equality
  * joins of two streams within ± joinWindowMs, with watermarks bounding the
  * join state on both sides — the Spark replacement for Kafka Streams'
  * RocksDB windowed-join stores.
  *
  * Semantics note (SURVEY §7.3.4): outer-join rows for unmatched records are
  * emitted when the watermark passes the window bound, not at window close
  * as KStreams does — same rows, later arrival.
  *
  * At scale: state per side is O(rate × window); the watermark delay is the
  * eviction bound. Both inputs shuffle on the join key once; Spark keeps the
  * state store partitioned by that key, so re-keying downstream is free.
  */
object StreamJoins {

  /** `joinType`: "inner" | "leftOuter" | "fullOuter" (J1/J2/J3). Inputs must
    * carry (key, ts) plus payload columns; watermark applied here. Output
    * value mirrors the reference's `{topic-key-1 left, topic-key-2 right}`
    * (streams.clj:151-153) as two structs. */
  /** withWatermark, unless `tsCol` already carries one (its watermark-delay
    * metadata survives aliases and joins): re-defining a watermark
    * DOWNSTREAM of a stateful operator is an error in Spark's
    * multiple-stateful-operator support, and a chained join's left side is
    * exactly that. */
  private def watermarked(df: DataFrame, tsCol: String,
      delay: String): DataFrame =
    if (df.schema(tsCol).metadata.contains("spark.watermarkDelayMs")) df
    else df.withWatermark(tsCol, delay)

  def joinWindowed(left: DataFrame, right: DataFrame, key: String,
      tsCol: String, joinWindowMs: Long, joinType: String,
      watermarkDelay: String = "10 seconds"): DataFrame = {
    val l = watermarked(left, tsCol, watermarkDelay)
      .select(col(key).as("l_key"), col(tsCol).as("l_ts"),
        struct(left.columns.map(col).toIndexedSeq: _*).as("left_value"))
    val r = watermarked(right, tsCol, watermarkDelay)
      .select(col(key).as("r_key"), col(tsCol).as("r_ts"),
        struct(right.columns.map(col).toIndexedSeq: _*).as("right_value"))
    l.join(r,
      col("l_key") === col("r_key")
        && col("r_ts") >= col("l_ts") - expr(s"INTERVAL $joinWindowMs MILLISECONDS")
        && col("r_ts") <= col("l_ts") + expr(s"INTERVAL $joinWindowMs MILLISECONDS"),
      joinType)
  }

  /** J4: fold a list of streams pairwise, each stage with its own window and
    * join type (streams.clj:163-179). */
  def joinChain(streams: Seq[DataFrame], key: String, tsCol: String,
      cfgs: Seq[(Long, String)]): DataFrame = {
    require(streams.size >= 2 && cfgs.size == streams.size - 1,
      s"need n-1 join configs for n streams (got ${cfgs.size} for ${streams.size})")
    streams.tail.zip(cfgs).foldLeft(streams.head) {
      case (acc, (next, (windowMs, joinType))) =>
        val joined = joinWindowed(acc, next, key, tsCol, windowMs, joinType)
        // re-expose key/ts for the next stage. inner/leftOuter stages keep
        // the LEFT side's columns verbatim: l_ts is non-null there and an
        // alias preserves its event-time watermark metadata, which the next
        // stage needs (a coalesce strips it, and Spark then rejects the
        // chain for redefining a watermark downstream of a stateful
        // operator). Any join type that can leave the left side null
        // (fullOuter, rightOuter, …) falls back to coalesce — sound for
        // the batch twin; a STREAMING chain through such a stage is a
        // Spark multiple-stateful-operator limitation either way.
        val leftAlwaysPresent =
          joinType == "inner" || joinType == "leftOuter" ||
            joinType == "left_outer" || joinType == "left"
        val (k2, t2) =
          if (leftAlwaysPresent) (col("l_key"), col("l_ts"))
          else (coalesce(col("l_key"), col("r_key")),
            coalesce(col("l_ts"), col("r_ts")))
        joined.withColumn(key, k2).withColumn(tsCol, t2)
    }
  }

  /** M6 stream-joins-diff metric (middleware/metrics/stream_joins_diff.clj):
    * per micro-batch average and maximum of |left ts − right ts| on the
    * joined stream, harvested as `<name>.join_diff_ms_avg`/`_max` gauges. */
  def observeJoinDiff(name: String)(joined: DataFrame): DataFrame =
    joined.observe(name,
      avg(abs(unix_millis(col("l_ts")) - unix_millis(col("r_ts"))))
        .as("join_diff_ms_avg"),
      max(abs(unix_millis(col("l_ts")) - unix_millis(col("r_ts"))))
        .as("join_diff_ms_max"))
}
