package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}

/** Streaming-equivalence proof: the windowed-aggregation expressions the
  * oracle checks in batch (Analytic a01/a03) produce identical results when
  * executed as a real Structured Streaming query over the same events file
  * (readStream → withWatermark → window agg → memory sink, AvailableNow
  * determinism per SURVEY §5).
  */
/** Input row / carried state for the streaming transition extractor (the
  * a24 twin) — top-level so Spark derives product encoders. */
case class TransEv(user_id: Long, ts_us: Long, event_id: Long,
    event_type: String)
case class TransSt(ts_us: Long, event_id: Long, event_type: String)

class EventsStreamSpec extends SparkSuite {

  /** events.parquet has shipped `ts` as either TIMESTAMP(NANOS) or
    * timestamp[us] across testdata generations — probe the batch-scanned
    * schema and normalize to TimestampType, matching graft.Tables.events. */
  private def streamedEvents(dir: String) = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val scanned = spark.read.parquet(dir).schema
    val df = spark.readStream.schema(scanned).parquet(dir)
    scanned("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }
  }

  private def stageDir(): String = {
    val d = tmpDir("events-stream")
    Files.copy(Paths.get(s"$sf0001/events.parquet"),
      Paths.get(d, "events.parquet"))
    d
  }

  test("streamed tumbling-window agg equals the batch/oracle result") {
    val dir = stageDir()
    val streamed = streamedEvents(dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .select(unix_millis(col("w.start")).as("window_start_ms"),
        col("event_type"), col("n"), col("sum_value"))
    val name = s"tumble_${System.nanoTime()}"
    val q = streamed.writeStream.format("memory").queryName(name)
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table(name).orderBy("window_start_ms", "event_type")
        .collect().map(_.toSeq).toSeq
      val want = graft.SparkEntry.queries("a01_tumbling_window")(spark, sf0001)
        .collect().map(_.toSeq).toSeq
      assert(got == want)
    } finally q.stop()
  }

  test("streamed session-window agg equals the batch/oracle result") {
    val dir = stageDir()
    val streamed = streamedEvents(dir)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_millis(col("w.start")).as("session_start_ms"), col("n_events"))
    val name = s"sess_${System.nanoTime()}"
    val q = streamed.writeStream.format("memory").queryName(name)
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table(name).orderBy("user_id", "session_start_ms")
        .collect().map(_.toSeq).toSeq
      val want = graft.SparkEntry.queries("a03_session_window")(spark, sf0001)
        .collect().map(_.toSeq).toSeq
      assert(got == want)
    } finally q.stop()
  }

  test("streaming exact dedup: dropDuplicates with watermark bounds state") {
    val dir = stageDir()
    // duplicate the source file → every event appears twice in the stream
    Files.copy(Paths.get(s"$dir/events.parquet"),
      Paths.get(s"$dir/events2.parquet"))
    val deduped = streamedEvents(dir)
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id", "ts")
    val name = s"dedup_${System.nanoTime()}"
    val q = deduped.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamedCount = spark.table(name).count()
      val batchDistinct = graft.Tables(spark, sf0001).events.count()
      assert(streamedCount == batchDistinct)
    } finally q.stop()
  }

  test("streamed too-old filter + dispatch pipeline over events (R2→E1)") {
    val dir = stageDir()
    val base = tmpDir("evdispatch")
    val topics = new FileTopicIO(s"$base/topics")
    val route = StreamRouteConfig("ev", "events", oldestProcessedMessageInS = Long.MaxValue / 1000,
      retry = RetryConfig(enabled = true, count = 1))
    // adapt raw events into the envelope shape, then run the real pipeline
    val env = streamedEvents(dir).select(
      col("event_id").cast("string").cast("binary").as("key"),
      col("props").cast("binary").as("value"),
      lit("events").as("topic"),
      lit(0).as("partition"),
      col("event_id").as("offset"),
      col("ts").as("timestamp"),
      lit("ev").as("topicEntity"),
      lit(null).cast("int").as("retryCount"),
      lit(null).cast("timestamp").as("nextAttemptAt"),
      lit(null).cast("string").as("channel"))
    val handler = Dispatch.ExprHandler(
      when(get_json_object(col("value").cast("string"), "$.k").cast("long") % 2
        === 0, "success").otherwise("skip"))
    val q = env.writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Dispatch.dispatch(route, topics, handler)(batch): Unit
      }.start()
    try q.processAllAvailable() finally q.stop()
    // all 1000 events dispatched to success or skip, none persisted
    assert(topics.read(spark, "ev_retry").count() == 0)
  }

  test("streamed per-user transition extraction (mapGroupsWithState " +
      "keeping each user's last event) reproduces a24's Markov counts") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val dir = stageDir()
    val sess = spark
    import sess.implicits._
    val evs = streamedEvents(dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type")).as[TransEv]
    // Stateful streaming form of a24's lead-window: state = the user's
    // latest event; each batch sorts ITS slice of the user's events,
    // stitches the carried last event in front, and emits consecutive
    // pairs. Event-time-ordered arrival per user (one file → one batch
    // here) is the ingest contract a log compaction provides at scale.
    val transitions = evs.groupByKey(_.user_id)
      .flatMapGroupsWithState[TransSt, (String, String)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, it, state) =>
          val sorted = it.toSeq.sortBy(e => (e.ts_us, e.event_id))
          val carried = state.getOption
            .map(s => TransEv(-1L, s.ts_us, s.event_id, s.event_type))
            .toSeq
          if (sorted.nonEmpty) {
            val last = sorted.last
            state.update(TransSt(last.ts_us, last.event_id, last.event_type))
          }
          (carried ++ sorted).sliding(2).collect {
            case Seq(a, b) => (a.event_type, b.event_type)
          }
      }.toDF("from_type", "to_type")
    val name = s"trans_${System.nanoTime()}"
    val q = transitions.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table(name)
        .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n"))
        .toMap
      val want = graft.SparkEntry.queries("a24_markov_transitions")(
        spark, sf0001).collect()
        .map(r => (r.getAs[String]("from_type"), r.getAs[String]("to_type"))
          -> r.getAs[Long]("n")).toMap
      assert(got == want,
        s"diverged: only-stream=${(got.toSet -- want.toSet).take(3)} " +
          s"only-batch=${(want.toSet -- got.toSet).take(3)}")
    } finally q.stop()
  }

  test("streamed stream-static enrichment join equals the batch/oracle " +
      "result (q45 operators over readStream; broadcast dim, no state)") {
    val dir = stageDir()
    val dim = spark.read.parquet(s"$sf0001/customer.parquet")
      .select(col("c_custkey"), col("c_nationkey"))
    val streamed = streamedEvents(dir)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100, 0).cast("long")).as("sum_cents"))
    val name = s"enrich_${System.nanoTime()}"
    val q = streamed.writeStream.format("memory").queryName(name)
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table(name)
        .select(col("c_nationkey"), col("n_events"), col("sum_cents"))
        .orderBy("c_nationkey").collect().map(_.toSeq).toSeq
      val want = graft.SparkEntry.queries("q45_stream_static_enrich")(
        spark, sf0001)
        .select(col("c_nationkey"), col("n_events"), col("sum_cents"))
        .collect().map(_.toSeq).toSeq
      assert(got == want)
    } finally q.stop()
  }
}
