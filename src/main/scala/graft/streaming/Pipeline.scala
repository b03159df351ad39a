package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The per-route record pipeline — the Spark form of the reference's fixed
  * topology (streams.clj:181-190):
  *
  *   source → too-old filter (R2) → metadata enrichment (R3) → read-metrics
  *   tap (R5) → middleware → handler dispatch (R6/E1)
  *
  * Here each stage is a declarative transform over the envelope DataFrame, so
  * Catalyst fuses the whole chain into one whole-stage-codegen span with the
  * filter evaluated at the source scan.
  */
object Pipeline {

  /** R2 `TimestampTransformer` (timestamp_transformer.clj:21-30): drop
    * records older than the route's cutoff. `now` defaults to the wall
    * clock; tests pass a fixed instant for determinism. */
  def tooOldFilter(oldestS: Long, now: Column = current_timestamp())(
      df: DataFrame): DataFrame =
    df.filter(col("timestamp") >= now - expr(s"INTERVAL $oldestS SECONDS"))

  /** R1 `IngestionTimeExtractor` (timestamp_transformer.clj:14-19): negative
    * / missing timestamps fall back to ingestion wall-clock. `now` lets a
    * caller pin the same instant the too-old filter compares against. */
  def ingestionTime(df: DataFrame,
      now: Column = current_timestamp()): DataFrame =
    df.withColumn("timestamp",
      // timestamp_millis(0) is the INSTANT epoch, independent of the
      // session timezone — a string literal cast is interpreted in
      // session-local time, so in a UTC+X session negative timestamps
      // in (-X hours, 0) escaped the rescue and the too-old filter then
      // silently dropped them (the exact loss R1 exists to prevent),
      // while in UTC-X legitimate small 1970 timestamps were rewritten
      when(col("timestamp").isNull
        || col("timestamp") < timestamp_millis(lit(0L)),
        now).otherwise(col("timestamp")))

  /** R3 `HeaderTransformer` (header_transformer.clj:5-15): wrap record-level
    * context into a `metadata` struct the user payload carries.
    * `rabbitmq_retry_count` counts the retry HOPS TAKEN (configured −
    * remaining; first delivery = 0), the same contract [[userPayload]]
    * implements and streams_test.clj:62-68 asserts (not the raw
    * REMAINING count, which inverts the semantics for handlers). */
  def enrichMetadata(df: DataFrame, configuredRetryCount: Int = 0): DataFrame =
    df.withColumn("metadata",
      struct(col("topic"), col("timestamp"), col("partition"),
        (lit(configuredRetryCount)
          - coalesce(col("retryCount"), lit(configuredRetryCount)))
          .as("rabbitmq_retry_count")))

  /** R5 read-metrics tap (streams.clj:45-54) as a Structured Streaming
    * `observe` — surfaced through StreamingQueryListener, never a side
    * effect inside a map. Also reports the R2 delay histogram companion
    * (kafka_delay.clj:5-13) as min/avg/max delay. */
  def observeReads(name: String)(df: DataFrame): DataFrame =
    df.observe(name,
      count(lit(1)).as("message_read_count"),
      avg(unix_millis(current_timestamp()) - unix_millis(col("timestamp")))
        .as("delay_ms_avg"),
      max(unix_millis(current_timestamp()) - unix_millis(col("timestamp")))
        .as("delay_ms_max"))

  /** Streaming exact dedup: drop duplicate records per key within the
    * watermark horizon (SURVEY §7.1 item 10 — the streaming twin of the
    * batch content-hash dedup d01). `dropDuplicatesWithinWatermark` keys
    * the state store and expires entries as the watermark advances, so
    * state stays bounded by (arrival rate × horizon) at any corpus size —
    * an unbounded `dropDuplicates` on a stream would grow state forever.
    * Typical route use: key = md5(value) for content dedup, or `key` for
    * producer-key dedup. */
  def dedupWithinWatermark(keyCols: Seq[String],
      tsCol: String = "timestamp", horizon: String = "10 minutes")(
      df: DataFrame): DataFrame =
    df.withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Streaming benchmark decontamination — the streaming twin of the
    * batch bloom + exact-confirm pipeline (CorpusPipeline p08/p21): marks
    * each arriving document whose 5-gram hash array shares ANY gram with
    * the static banned corpus. The whole decision is ONE stateless
    * map-side predicate — `exists(ghashes, g -> bloom_contains(g) AND
    * sorted_set_contains(g))` — so it composes with any downstream
    * stateful operator, adds zero state of its own, and never joins:
    * exactly what a 100 TB ingest route needs (a stream-static
    * theta/semi join here would either nested-loop the banned side per
    * row or smuggle a per-batch collapse aggregate into the stream —
    * see SetOverlapJoinRewrite's streaming stand-down). The bloom
    * prefilter short-circuits the overwhelmingly-clean majority at ~10
    * bits/key; the exact sorted-array confirm
    * ([[graft.functions.ExactSetContains]]) makes the mark EXACT — a
    * bloom false positive cannot mark a clean document
    * (StreamDecontaminateSpec drives a deliberately high-fpp filter to
    * prove it). `banned` is a static one-column BIGINT gram-hash
    * relation; both support structures are built once at plan time (ONE
    * distributed pass — the bloom is fed from the same collected keys)
    * and ship to executors as broadcast variables. */
  def streamingDecontaminate(gramsCol: String, banned: DataFrame,
      markCol: String = "contaminated")(df: DataFrame): DataFrame = {
    val (exact, bloom) = graft.functions.ExactSetContains.buildBoth(banned)
    df.withColumn(markCol, exists(col(gramsCol), g =>
      graft.functions.BloomContains.bloomContains(g, bloom)
        && graft.functions.ExactSetContains.sortedSetContains(g, exact)))
  }

  /** Streaming fuzzy (near-duplicate) detection — the streaming twin of the
    * batch MinHash-LSH dedup (DedupOps d03), sharing the exact same
    * signature construction ([[graft.functions.MinHashFamily]]: one md5
    * digest per 3-gram shingle, 16 universal-family minhashes, 4×4
    * banding). Each document contributes its 4 band keys; the stream is
    * keyed by band key with `flatMapGroupsWithState` holding ONE value per
    * bucket — the canonical (first-arrival, min-id tiebreak within a
    * micro-batch) document id — so state is bounded by (distinct band keys
    * within the TTL horizon) × 8 bytes, and a later document colliding
    * with a held bucket emits `(dup_id, canonical_id, bucket)`.
    *
    * A pair sharing several bands emits once per shared band (downstream
    * consumers dropDuplicates on dup_id if they only need the flag).
    * Processing-time TTL expires idle buckets — the same bounded-state
    * contract as [[dedupWithinWatermark]], keyed by content signature
    * instead of exact key. */
  def streamingNearDup(idCol: String, textCol: String,
      stateTtl: String = "30 minutes")(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import graft.functions.MinHashSig
    val sess = df.sparkSession
    import sess.implicits._
    val banded = df
      .withColumn("toks", graft.operators.Corpus.tokens(textCol))
      .filter(size(col("toks")) >= 3)
      .withColumn("sh_arr", graft.operators.Corpus.distinctNgrams(3))
      .select(col(idCol).cast("long").as("id"),
        MinHashSig.minhashSigs(col("sh_arr")).as("sigs"))
      .select(col("id"), explode(array((0 until 4).map(bd =>
        concat_ws("-", (lit(bd) +: (0 until 4).map(r =>
          col("sigs").getItem(bd * 4 + r))): _*)): _*)).as("bkey"))
    banded.as[(Long, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Long, (Long, Long, String)](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (bkey: String, rows: Iterator[(Long, String)],
            state: GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val ids = rows.map(_._1).toSeq.distinct.sorted
            val canonical = state.getOption.getOrElse(ids.head)
            state.update(canonical)
            state.setTimeoutDuration(stateTtl)
            ids.filter(_ != canonical).map(i => (i, canonical, bkey)).iterator
          }
      }.toDF("dup_id", "canonical_id", "bucket")
  }

  /** Streaming heavy hitters — the streaming twin of the mergeable
    * frequent-items sketch ([[graft.functions.FreqItemsAgg]]): per group,
    * ONE Misra-Gries sketch accumulates across micro-batches in the state
    * store, so finding the hot keys of an unbounded stream costs
    * `maxMapSize` entries of state per group — never one state row per
    * distinct key, which is what an exact streaming `groupBy(key).count`
    * would hold (ruinous for, say, per-URL counts with billions of
    * distinct URLs in flight).
    *
    * Same containment guarantee as the batch sketch, now cumulative over
    * the stream's lifetime: every key whose true count exceeds the
    * sketch's maximum error is present in the latest emitted map (eviction
    * makes the *estimates* run-dependent; production use is sketch →
    * candidate set → exact confirm, p08's discipline). Run with
    * Update/Complete output — each trigger re-emits the groups the batch
    * touched. */
  def streamingHeavyHitters(keyCol: String, groupCol: String,
      maxMapSize: Int = 1024)(df: DataFrame): DataFrame = {
    val sess = df.sparkSession
    import sess.implicits._
    val agg = new graft.functions.FreqItemsAgg(maxMapSize)
    df.select(col(groupCol).cast("string"), col(keyCol).cast("string"))
      .as[(String, String)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(agg.toColumn.name("freq"))
      .toDF("group", "freq")
  }

  /** Streaming per-group quantiles — the streaming twin of a27's KLL
    * rollup, completing the symmetry streamingHeavyHitters has with the
    * batch frequent-items sketch: each group keeps ONE KLL sketch
    * (serialized bytes, ≤ ~5 KB regardless of stream length) in the
    * state store, merged cumulatively across micro-batches; each trigger
    * re-emits the touched groups' current p50/p90/p99. An exact
    * streaming percentile would have to retain every value per group in
    * state — unbounded; the sketch caps state at the KLL guarantee and
    * inherits its merge-order-independent rank-error bound, so emitted
    * quantiles are within ~1.65% rank of the truth over ALL data seen so
    * far (QuantilesStreamSpec proves the cross-batch bound). */
  def streamingQuantiles(keyCol: String, valueCol: String,
      k: Int = 200)(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.datasketches.memory.Memory
    val sess = df.sparkSession
    import sess.implicits._
    df.select(col(keyCol).cast("string"), col(valueCol).cast("double"))
      .as[(String, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Array[Byte],
        (String, Long, Double, Double, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Double)],
            state: GroupState[Array[Byte]]) =>
          val sk = state.getOption
            .map(b => KllDoublesSketch.heapify(Memory.wrap(b)))
            .getOrElse(KllDoublesSketch.newHeapInstance(k))
          rows.foreach(r => sk.update(r._2))
          state.update(sk.toByteArray)
          Iterator((key, sk.getN,
            sk.getQuantile(0.5), sk.getQuantile(0.9), sk.getQuantile(0.99)))
      }
      .toDF("group", "n_seen", "p50", "p90", "p99")
  }

  /** Streaming funnel progression — a12's batch funnel as live state:
    * each user carries ONE integer (current stage depth) in the state
    * store; an arriving event advances the depth exactly when it is the
    * NEXT stage in order (the ordered-funnel contract — a purchase
    * before any view advances nothing, matching a12's nested
    * running-min semantics), and each advance emits (user, new depth,
    * event time) — the row a live funnel dashboard increments on.
    * Events are walked in event-time order within each micro-batch
    * (equal timestamps tiebreak by funnel-stage index, so an
    * earlier-stage event at the same instant is consumed first — the
    * monotone walk a12's ordered contract implies); cross-batch progress
    * resumes from state. State is O(1) per user — and, like
    * [[streamingAsOf]], an optional processing-time `stateTtl` expires
    * users idle past the horizon so abandoned funnels don't pin a state
    * row forever (`None` keeps the cumulative-forever behavior for
    * bounded user populations). */
  def streamingFunnel(stages: Seq[String],
      stateTtl: Option[String] = None)(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val sess = df.sparkSession
    import sess.implicits._
    val timeout = if (stateTtl.isDefined)
      GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    df.select(col("user_id").cast("long"), col("ts").cast("timestamp"),
        col("event_type").cast("string"))
      .as[(Long, java.sql.Timestamp, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Int, (Long, Int, java.sql.Timestamp)](
        OutputMode.Append, timeout) {
        (key: Long, rows: Iterator[(Long, java.sql.Timestamp, String)],
            state: GroupState[Int]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var depth = state.getOption.getOrElse(0)
            val out = scala.collection.mutable.ListBuffer
              .empty[(Long, Int, java.sql.Timestamp)]
            rows.toSeq
              .sortBy(r => (r._2.getTime, stages.indexOf(r._3)))
              .foreach {
                case (_, ts, tpe) =>
                  if (depth < stages.length && tpe == stages(depth)) {
                    depth += 1
                    out += ((key, depth, ts))
                  }
              }
            state.update(depth)
            stateTtl.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }
      .toDF("user_id", "stage_depth", "reached_at")
  }

  /** The per-key micro-batch walk of [[streamingAsOf]].
    *
    * Event-time walk within the batch: refs update the cell, probes
    * read it — exact for any intra-batch interleaving. At equal event
    * time a ref must be applied BEFORE the probe reads (at-or-before
    * attaches a ref at exactly the probe's ts, matching q31's tie rule
    * and the cross-batch behavior where the same ref arrives in an
    * earlier batch). Equal-ts refs apply in event_id order, and the
    * state cell only yields to an equal-ts ref with a >= event_id — so
    * the highest event_id wins whether the contender arrived in this
    * batch, an earlier one, or a later one. With every event_id = 0
    * equal-ts refs keep their stable batch-arrival order and 0 <= 0
    * always yields: the last-arrival rule. */
  private def asOfBatchWalk(key: Long,
      rows: Seq[(Long, java.sql.Timestamp, String, Double, Long)],
      cur0: Option[(Long, Double, Long)])
      : (Option[(Long, Double, Long)],
         Seq[(Long, java.sql.Timestamp, Double,
              Option[Double], Option[Long], Option[Long])]) = {
    val sorted = rows
      .sortBy(r => (r._2.getTime, if (r._3 == "ref") 0 else 1, r._5))
    var cur = cur0 // (tsMs, value, event_id)
    val out = sorted.flatMap {
      case (_, ts, "ref", v, id) =>
        if (cur.forall(c => c._1 < ts.getTime
            || (c._1 == ts.getTime && c._3 <= id)))
          cur = Some((ts.getTime, v, id))
        None
      case (_, ts, _, v, _) =>
        Some((key, ts, v, cur.map(_._2), cur.map(_._1),
          cur.map(c => ts.getTime - c._1)))
    }
    (cur, out)
  }

  /** Streaming as-of enrichment — the streaming twin of q31's batch as-of
    * join: each probe-side event picks up the LATEST reference-side value
    * for its key at-or-before its event time, via one keyed state cell
    * (the reference's newest (ts, value, event_id)) instead of a windowed
    * stream-stream join. This is the canonical latest-value topology
    * (quote-attach, config-attach, feature-freshness): state is O(1) per
    * key forever — a windowed join holds every row in the window on BOTH
    * sides; latest-value needs exactly one.
    *
    * Input: a union frame `(key, ts, side['ref'|'probe'], value)` (one
    * source per side upstream, per-key event-order within each — Kafka's
    * per-partition ordering when keys partition consistently; rows are
    * re-sorted by event time WITHIN each micro-batch so intra-batch
    * interleavings are handled exactly). Output per probe row: its value,
    * the attached ref value/ts (null before the first ref), and the
    * staleness lag in ms — the same columns q31 materializes, so a batch
    * replay through q31's union-scan is the oracle (AsOfStreamSpec
    * drives the cross-batch equivalence). TTL expires idle keys.
    *
    * REF TIES: when the frame carries an optional `event_id` column, two
    * refs at the same (key, ts) resolve to the HIGHEST event_id — exactly
    * q31's oracle pick (`ORDER BY v.ts DESC, v.event_id DESC`) — and the
    * winner is invariant to how the refs split across micro-batches
    * (AsOfStreamSpec pins both orders and both batchings). A frame
    * without the column runs the same walk with every event_id = 0, the
    * last-arrival rule, which is only deterministic for distinct-ts refs.
    * Either way the state cell is `(tsMs, value, event_id)`. */
  def streamingAsOf(stateTtl: String = "30 minutes")(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val sess = df.sparkSession
    import sess.implicits._
    val eventId =
      if (df.columns.contains("event_id")) col("event_id").cast("long")
      else lit(0L)
    df.select(col("key").cast("long"), col("ts").cast("timestamp"),
        col("side").cast("string"), col("value").cast("double"), eventId)
      .as[(Long, java.sql.Timestamp, String, Double, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double, Long),
        (Long, java.sql.Timestamp, Double, Option[Double], Option[Long], Option[Long])](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (key: Long,
            rows: Iterator[(Long, java.sql.Timestamp, String, Double, Long)],
            state: GroupState[(Long, Double, Long)]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val (cur, out) = asOfBatchWalk(key, rows.toSeq, state.getOption)
            cur.foreach(state.update)
            state.setTimeoutDuration(stateTtl)
            out.iterator
          }
      }
      .toDF("key", "ts", "value", "ref_value", "ref_ts_ms", "lag_ms")
  }

  /** The user-visible payload contract (`create-user-payload`,
    * mapper.clj:18-26; asserted by the reference's
    * streams_test.clj:62-68): the handler sees exactly `message`, `key`,
    * and `metadata` — with `rabbitmq_retry_count` = configured − remaining
    * (how many retry hops the record has taken) — and the transport fields
    * (`retryCount`, `topicEntity`, offsets) stripped. */
  def userPayload(configuredRetryCount: Int)(df: DataFrame): DataFrame =
    // the metadata struct is enrichMetadata's, REUSED not re-spelled:
    // the rabbitmq_retry_count formula was already inverted once in an
    // earlier revision, and two hand-maintained copies of it would let
    // the next fix land in one site and silently miss the other
    enrichMetadata(df, configuredRetryCount)
      .select(col("message"), col("key"), col("metadata"))

  /** Full pre-handler pipeline for a route. */
  def forRoute(route: StreamRouteConfig,
      middleware: DataFrame => DataFrame,
      now: Column = current_timestamp())(df: DataFrame): DataFrame = {
    // R1 BEFORE R2, like the reference's transformer chain: a null or
    // negative timestamp — exactly what R1 exists to rescue — would
    // otherwise evaluate the too-old predicate to NULL/false and the
    // record would silently vanish instead of processing at wall-clock
    val stamped = ingestionTime(df, now)
    val chained = tooOldFilter(route.oldestProcessedMessageInS, now)(stamped)
    middleware(enrichMetadata(chained, route.retry.count))
  }
}
