package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Handler invocation + result-code dispatch — the heart of the reference
  * (E1/E2, mapper.clj:28-111), re-expressed for micro-batch execution.
  *
  * A [[Handler]] adds a `disposition` column to the batch (declaratively —
  * a Column expression keeps the hot path in codegen; arbitrary Scala via
  * typed map is possible but discouraged). The dispatcher then routes each
  * row to one destination:
  *
  *   success / skip       → counted (metrics), not persisted
  *   retry                → retry topic (count decremented, `nextAttemptAt`
  *                          stamped), or the DLQ once exhausted
  *   dead_letter          → DLQ topic
  *   channel:<name>       → that channel's topic, retry state reset (D2)
  *   unknown code         → treated as retry + failure metric, matching the
  *                          reference's catch-all (mapper.clj:66-69 routes
  *                          any thrown exception to retry)
  *
  * A micro-batch costs at most three Spark jobs. The tallies are one
  * narrow counting job over the cached batch. Then ONE routed emit: a single
  * projection adds each row's destination topic ([[TopicCol]]) and its
  * rewritten retry state, and [[TopicIO.appendRouted]] writes every
  * destination the tallies counted as non-empty in one call (the file
  * transport: one counting job and one write, plus a one-off offset scan
  * the first time it writes a topic). An all-success batch stops after
  * the tallies. The projection and the tallies share the retry
  * predicates, so counted and written sets cannot drift.
  *
  * Dispatch runs inside foreachBatch: every sink write for one micro-batch
  * either completes before the checkpoint commits or replays wholesale —
  * at-least-once, strictly stronger than the reference's manual ack
  * (SURVEY §7.3.1). Replay idempotence is TRANSPORT-scoped: the emit is
  * keyed by a `<query>-<batchId>` token and transports that keep
  * per-topic applied markers (the file transport) make replays exact
  * no-ops; the Kafka sink has no transactional producer, so there a
  * replayed micro-batch may re-publish — standard Kafka at-least-once,
  * and safe to reprocess: duplicates carry the same `graft.*` retry
  * state, so they converge through the same retry/DLQ cycle rather than
  * compounding.
  */
object Dispatch {

  /** A handler adds `disposition` (see Envelope.Code) to a batch. */
  trait Handler extends Serializable {
    def apply(batch: DataFrame): DataFrame
  }

  /** Declarative handler from a Column expression — the recommended form. */
  final case class ExprHandler(disposition: Column) extends Handler {
    def apply(batch: DataFrame): DataFrame =
      batch.withColumn("disposition", disposition)
  }

  /** `invalid` counts handler returns outside the recognized codes
    * (typo'd channels, null, arbitrary strings) — those records ALSO
    * count under `retried`/`deadLettered` as they flow through the
    * catch-all retry cycle; the separate count is the failure signal
    * the contract doc promises. */
  final case class Counts(success: Long, skip: Long, retried: Long,
      deadLettered: Long, toChannels: Long, invalid: Long = 0L)

  /** Destination-topic column of the routed frame handed to
    * [[TopicIO.appendRouted]]; NULL on rows that are not persisted. */
  val TopicCol = "graft_dest_topic"

  /** Dispatch one micro-batch for a route. Returns per-disposition counts
    * (the metrics the reference emits per message, mapper.clj:33-54).
    * `token` = `<query>-<batchId>` makes the emit replay-safe. */
  def dispatch(route: StreamRouteConfig, topics: TopicIO, handler: Handler,
      token: Option[String] = None)(
      batch: DataFrame): Counts =
    dispatchChecked(route, topics, handler, token, _ => ())(batch)

  /** The one dispatch body: `check` sees the tallies before anything is
    * written and may reject the batch. */
  private def dispatchChecked(route: StreamRouteConfig, topics: TopicIO,
      handler: Handler, token: Option[String], check: Tallies => Unit)(
      batch: DataFrame): Counts = {
    import Envelope.Code
    val entity = route.topicEntity
    // only the route's CONFIGURED channels are recognized dispositions:
    // only those have a destination topic, so letting an arbitrary
    // `channel:*` string through normalization would drop the record
    // silently (written to no topic, counted nowhere). An unconfigured
    // channel name — a typo, or a handler shared across differently-
    // configured routes — takes the documented catch-all to Retry
    // instead (mapper.clj's unrecognized-return contract).
    val channels = route.channels.keys.toSeq
      .map(ch => Code.channel(ch) -> EngineConfig.channelTopic(entity, ch))
    val known = Set(Code.Success, Code.Skip, Code.Retry, Code.DeadLetter) ++
      channels.map(_._1)
    // ORIGINAL dispositions are kept (nulls named) so the tallies can
    // COUNT the catch-all instead of erasing it: folding unknown codes
    // into Retry before counting made a typo'd channel name
    // operationally indistinguishable from genuine handler failures.
    // Unknown codes still take the catch-all to Retry, surfaced via
    // Counts.invalid → `.message.invalid`.
    val handled = handler(batch)
      .withColumn("disposition",
        coalesce(col("disposition"), lit("invalid:null")))
      .cache()
    val retryBound = col("disposition") === Code.Retry ||
      !col("disposition").isin(known.toSeq: _*)
    try {
      // a retryBound row is exhausted per RetryEngine.exhaustedCol, or
      // always when retries are disabled for the route
      val exhausted = if (route.retry.enabled) retryBound &&
          coalesce(RetryEngine.exhaustedCol(route.retry), lit(false))
        else retryBound
      val tallies = dispositionTallies(handled, exhausted)
      check(tallies)
      // retried/exhausted include the catch-all rows: the routing below
      // uses the same retryBound and exhausted predicates
      val retried = tallies.live(Code.Retry) + tallies.liveOutside(known)
      val deadLettered = tallies.total(Code.DeadLetter) +
        tallies.exhausted(Code.Retry) + tallies.exhaustedOutside(known)
      val perChannel = channels.map { case (code, t) => t -> tallies.total(code) }
      // one routed emit for the destinations counted non-empty; none when
      // every row succeeded or was skipped
      val targets = (Seq(EngineConfig.retryTopic(entity) -> retried,
        EngineConfig.deadLetterTopic(entity) -> deadLettered) ++ perChannel)
        .collect { case (t, n) if n > 0 => t }
      if (targets.nonEmpty)
        topics.appendRouted(routed(handled, entity, route.retry, retryBound,
          exhausted, channels), TopicCol, targets, token)
      Counts(tallies.total(Code.Success), tallies.total(Code.Skip), retried,
        deadLettered, perChannel.map(_._2).sum, tallies.invalid(known))
    } finally handled.unpersist()
  }

  /** The batch projected for one routed emit: [[TopicCol]] names each
    * row's destination, and the retry state is rewritten per destination.
    * Live retry rows get the decremented count and a `nextAttemptAt`
    * stamp. Exhausted rows get the configured count restored when retries
    * are enabled; with retries disabled they keep their state. Channel
    * publication starts a FRESH retry cycle: the origin route's residual
    * count would make the channel worker report phantom retry hops and
    * exhaust the record early. Dead-letter rows keep their state. */
  private def routed(handled: DataFrame, entity: String, retry: RetryConfig,
      retryBound: Column, exhausted: Column,
      channels: Seq[(String, String)]): DataFrame = {
    val disposition = col("disposition")
    val live = retryBound && !exhausted
    val restored = if (retry.enabled) exhausted else lit(false)
    val toChannel = disposition.isin(channels.map(_._1): _*)
    val dest = channels.foldLeft(
      when(live, lit(EngineConfig.retryTopic(entity)))
        .when(exhausted || disposition === Envelope.Code.DeadLetter,
          lit(EngineConfig.deadLetterTopic(entity)))) {
      case (c, (code, topic)) => c.when(disposition === code, lit(topic))
    }
    Envelope.withOptionalColumns(handled).withColumns(Map(
      "retryCount" ->
        when(live, RetryEngine.decrementedCount(retry, col("retryCount")))
          .when(restored, lit(retry.count))
          .when(toChannel, lit(null).cast("int"))
          .otherwise(col("retryCount")),
      "nextAttemptAt" ->
        when(live, RetryEngine.nextAttemptCol(retry))
          .when(restored || toChannel, lit(null).cast("timestamp"))
          .otherwise(col("nextAttemptAt")),
      TopicCol -> dest)).drop("disposition")
  }

  /** Per-(disposition, exhausted?) counts; the exhausted flag is the
    * predicate the routing uses. */
  private final case class Tallies(m: Map[(String, Boolean), Long]) {
    def total(code: String): Long =
      m.collect { case ((c, _), n) if c == code => n }.sum
    def live(code: String): Long = m.getOrElse((code, false), 0L)
    def exhausted(code: String): Long = m.getOrElse((code, true), 0L)
    def invalid(allowed: Set[String]): Long =
      m.collect { case ((c, _), n) if !allowed.contains(c) => n }.sum
    def liveOutside(allowed: Set[String]): Long =
      m.collect { case ((c, false), n) if !allowed.contains(c) => n }.sum
    def exhaustedOutside(allowed: Set[String]): Long =
      m.collect { case ((c, true), n) if !allowed.contains(c) => n }.sum
  }

  /** One narrow job: per-partition counts merged on the driver. A
    * groupBy would add a shuffle stage of `spark.sql.shuffle.partitions`
    * tasks (and, with AQE on, stage jobs of its own) for a handful of
    * groups. */
  private def dispositionTallies(handled: DataFrame,
      exhausted: Column): Tallies =
    Tallies(handled.select(col("disposition"), exhausted).rdd
      .mapPartitions { rows =>
        val m = scala.collection.mutable.Map.empty[(String, Boolean), Long]
        rows.foreach { r =>
          val k = (r.getString(0), r.getBoolean(1))
          m(k) = m.getOrElse(k, 0L) + 1
        }
        Iterator(m.toMap)
      }
      .collect().toSeq.flatten.groupMapReduce(_._1)(_._2)(_ + _))

  /** E7 batch-route contract (kafka_consumer/consumer_handler.clj:36-73):
    * the batch handler's output must contain only skip/retry dispositions;
    * anything else is an invalid return (InvalidReturnTypeException in the
    * reference), rejected before anything is written. Past that check a
    * batch route is the stream body with no channels: every row is skip
    * or retry, so success, dead-letter, channel and invalid counts are 0.
    * A NULL disposition is normalized first, so it meets the same curated
    * error instead of a NULL tally key. */
  def dispatchBatchRoute(route: BatchRouteConfig, topics: TopicIO,
      handler: Handler, token: Option[String] = None)(
      batch: DataFrame): Counts =
    dispatchChecked(StreamRouteConfig(route.topicEntity, route.originTopic,
        retry = route.retry), topics, handler, token, { tallies =>
      if (tallies.invalid(Set(Envelope.Code.Skip, Envelope.Code.Retry)) > 0)
        throw new IllegalArgumentException(
          s"batch handler for '${route.topicEntity}' returned dispositions " +
            "outside {skip, retry}")
    })(batch)
}
