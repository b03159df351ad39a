package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** Engine lifecycle (O7, init.clj:33-183 + D1 streams.clj:216-239): wires
  * validated route config into one StreamingQuery per route, with per-route
  * checkpoints, mode-driven subsystem startup, runtime stop/start of
  * individual routes (O2, streams.clj:114-123), and a JVM shutdown hook that
  * stops its queries. Everything the engine registers on the session or
  * the JVM — its one listener, its shutdown hook — ends at
  * [[GraftEngine.stopAll]].
  *
  * Scale mapping of the reference's knobs:
  *  - stream-threads-count (O3)  → spark.sql.shuffle.partitions +
  *    maxFilesPerTrigger/maxOffsetsPerTrigger per route; elastic via AQE;
  *    runtime add/remove ≡ [[scaleRoute]] (checkpoint-preserving restart
  *    with a new per-trigger budget).
  *  - channels (D2)              → channel-topic queries started per channel.
  *  - drain-timeout (E11)        → query.stop() completes the in-flight
  *    micro-batch; stopAll enforces the configured drain window.
  *
  * Every route kind is one topology over a different queue (source →
  * filter → metadata → middleware → handler → result-code routing), and
  * the start methods share one body for it. Each query is started by one
  * skeleton (`startQuery`: query name, checkpoint subdir, source,
  * trigger, output mode, per-batch body with its `<queryName>-<batchId>`
  * emit token). Derived-topic consumers run one worker body (metadata →
  * middleware → dispatch → counts) and every retry reader (route,
  * channel, batch) runs one due-filter reader body under the caller's
  * trigger; each takes the stream or batch dispatch contract as a
  * parameter. The query names and checkpoint subdirs are restart state:
  * `<e>`/`route-<e>`, `view-<e>`, `retry-<e>`, `channel-<e>-<ch>`,
  * `instant-<e>`, `retry-batch-<e>`, `instant-batch-<e>`, `batch-<e>`,
  * `join-<e>`/`joinroute-<e>`, `analytics-<name>`.
  */
/** E12 uncaught-exception policy (streams.clj:208-214): what to do when a
  * route's query dies with an error. */
sealed trait FailurePolicy
object FailurePolicy {
  /** Leave the failed query stopped, others keep running (the reference's
    * :shutdown-client default). */
  case object StopQuery extends FailurePolicy
  /** Stop every query (:shutdown-application). */
  case object StopAll extends FailurePolicy
  /** Restart the failed route from its checkpoint (:replace-thread). */
  case object Restart extends FailurePolicy
}

final class GraftEngine(
    spark: SparkSession,
    cfg: EngineConfig,
    topics: TopicIO,
    checkpointDir: String,
    val metrics: MetricsRegistry = new MetricsRegistry,
    failurePolicy: FailurePolicy = FailurePolicy.StopQuery) {

  {
    val errs = EngineConfig.validate(cfg)
    require(errs.isEmpty, s"invalid engine config:\n  ${errs.mkString("\n  ")}")
    // push backend boot ≡ the reference initializing its statsd wrapper
    // from [:ziggurat :statsd] only when enabled
    if (cfg.statsd.enabled)
      metrics.addSink(new StatsdSink(cfg.statsd.host, cfg.statsd.port))
  }

  private val queries = new ConcurrentHashMap[String, StreamingQuery]()
  /** How a tracked query restarts: its Spark query name and its start. */
  private final case class Starter(queryName: String,
      start: () => StreamingQuery)
  private val starters = new ConcurrentHashMap[String, Starter]()
  /** O3: per-route restart functions taking a new per-trigger record
    * budget — registered by startStreamRoute and startViewRoute. */
  private val scalers =
    new ConcurrentHashMap[String, Int => StreamingQuery]()
  private val idToName = new ConcurrentHashMap[java.util.UUID, String]()
  /** Spark queryName → track name, pre-registered BEFORE start(): Spark
    * delivers QueryStartedEvent synchronously inside start(), so the E12
    * listener binds id → name from this map before any termination event
    * for that run can fire — closing the window where a query failing
    * its very first micro-batch escaped the failure policy because
    * track()'s post-start puts had not executed yet. */
  private val queryNameToTrack = new ConcurrentHashMap[String, String]()
  val deadSet = new DeadSet(topics, s"$checkpointDir/markers")

  /** Starts a query and registers it under track name `name` for
    * lifecycle tracking + failure policy. Every start goes through here:
    * first starts, [[scaleRoute]] restarts and the Restart policy. */
  private def track(name: String, s: Starter): StreamingQuery = {
    queryNameToTrack.put(s.queryName, name)
    val q = s.start()
    queries.put(name, q)
    starters.put(name, s)
    idToName.put(q.id, name)
    q
  }

  /** Started-event binding, factored out of the listener so the null-name
    * contract is directly testable: `queryName` is null for co-resident
    * queries started without `.queryName()` (every tracked start sets
    * one), and `CHM.get(null)` throws — the binding must stay silent for
    * queries that are not ours. */
  private[streaming] def bindStarted(queryName: String,
      id: java.util.UUID): Unit =
    Option(queryName).flatMap(n => Option(queryNameToTrack.get(n)))
      .foreach(n => idToName.put(id, n))

  // The engine's one listener, scoped to its own query ids: it harvests
  // their progress into `metrics`, counts their terminations and applies
  // the E12 failure policy. Held in a field so stopAll can DEREGISTER
  // it: a decommissioned engine must never bind, record or act on a
  // later engine's same-named queries on the shared session.
  private[streaming] val lifecycleListener = new StreamingQueryListener {
    import StreamingQueryListener._
    // synchronous with start() — see queryNameToTrack's note
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      bindStarted(e.name, e.id)
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      if (idToName.containsKey(e.progress.id))
        metrics.recordProgress(e.progress)
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      Option(idToName.get(e.id)).foreach { name =>
        metrics.increment("query.terminated")
        if (e.exception.isDefined) {
          metrics.increment(s"$name.query.failed")
          failurePolicy match {
            case FailurePolicy.StopQuery => queries.remove(name)
            case FailurePolicy.StopAll => stopAll()
            case FailurePolicy.Restart =>
              Option(starters.get(name)).foreach { s =>
                try track(name, s)
                catch { case _: Throwable => queries.remove(name) }
              }
          }
        }
      }
  }
  spark.streams.addListener(lifecycleListener)

  /** The one query skeleton: a foreachBatch query over `src` named
    * `queryName`, checkpointed under `<checkpointDir>/<subdir>`, tracked
    * as `name` and run in `outputMode` (append, DataStreamWriter's own
    * default, unless given). `body` gets each micro-batch, its id and its
    * emit token `<queryName>-<batchId>`. */
  private def startQuery(queryName: String)(src: DataFrame, trigger: Trigger,
      subdir: String = queryName, name: String = queryName,
      outputMode: String = "append")(
      body: (DataFrame, Long, String) => Unit): StreamingQuery =
    track(name, Starter(queryName, () => src.writeStream
      .queryName(queryName)
      .outputMode(outputMode)
      .option("checkpointLocation", s"$checkpointDir/$subdir")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        body(batch, batchId, s"$queryName-$batchId")
      }
      .start()))

  /** Stream and view routes: the origin topic through the route's
    * pipeline (too-old filter, metadata, middleware, read metrics),
    * tracked and checkpointed as `name`, and registered with
    * [[scaleRoute]] to restart under a per-trigger record budget. */
  private def startPaced(route: StreamRouteConfig,
      middleware: DataFrame => DataFrame, name: String, queryName: String,
      trigger: Trigger)(
      body: (DataFrame, Long, String) => Unit): StreamingQuery = {
    topics.provision(route.topicEntity, route.channels.keys)
    def startWith(pace: Map[String, String]): StreamingQuery =
      startQuery(queryName)(
        Pipeline.observeReads(s"$name.reads")(Pipeline.forRoute(route,
          middleware)(topics.readStream(spark, route.originTopic, pace))),
        trigger, subdir = name, name = name)(body)
    scalers.put(name, n => startWith(topics.paceOptions(n)))
    startWith(Map.empty)
  }

  /** A route's dispatch contract as its queries see it: the entity its
    * counts are recorded under, its retry budget, and the Dispatch call
    * for a prepared micro-batch under an emit token. */
  private final case class Target(entity: String, retryCount: Int,
      dispatch: (DataFrame, String) => Dispatch.Counts) {
    def emit(df: DataFrame, token: String): Unit =
      metrics.recordDispatch(entity, dispatch(df, token))
    /** The worker body every derived-topic consumer shares: metadata
      * enrichment, the route's middleware, dispatch, counts. */
    def work(middleware: DataFrame => DataFrame, batch: DataFrame,
        token: String): Unit =
      emit(middleware(Pipeline.enrichMetadata(batch, retryCount)), token)
  }

  private def streamTarget(route: StreamRouteConfig,
      handler: Dispatch.Handler): Target =
    Target(route.topicEntity, route.retry.count,
      (df, token) => Dispatch.dispatch(route, topics, handler, Some(token))(df))

  private def batchTarget(route: BatchRouteConfig,
      handler: Dispatch.Handler): Target =
    Target(route.topicEntity, route.retry.count, (df, token) =>
      Dispatch.dispatchBatchRoute(route, topics, handler, Some(token))(df))

  /** A consumer of `src` running the worker body per micro-batch;
    * `spread` sizes a channel's batch to its worker count first. */
  private def startWorker(queryName: String, src: DataFrame, t: Target,
      middleware: DataFrame => DataFrame, trigger: Trigger,
      spread: DataFrame => DataFrame = identity): StreamingQuery =
    startQuery(queryName)(src, trigger) { (batch, _, token) =>
      t.work(middleware, spread(batch), token)
    }

  /** The due-filter retry reader: streams `t`'s retry topic, releases the
    * records due at one pinned `now`, requeues the rest under
    * `<token>-requeue` (their stamp unchanged, so they surface again next
    * trigger — the TTL-requeue analogue) and works the due ones. */
  private def startDueFilterReader(queryName: String, t: Target,
      middleware: DataFrame => DataFrame, trigger: Trigger): StreamingQuery = {
    val retryTopic = EngineConfig.retryTopic(t.entity)
    startQuery(queryName)(topics.readStreamExact(spark, retryTopic),
        trigger) { (batch, _, token) =>
      val cached = batch.cache()
      try {
        // One pinned `now` per micro-batch: the requeue job and the
        // dispatch job then see the same due/notDue split even though
        // they run at different wall-clock times — a record becoming due
        // between the jobs is processed exactly once (either requeued to
        // next trigger or dispatched, never both).
        val now = RetryEngine.pinnedNow()
        val due = RetryEngine.due(cached, now)
        val notDue = RetryEngine.notDue(cached, now)
        if (!notDue.isEmpty)
          topics.appendIdempotent(notDue, retryTopic, s"$token-requeue")
        t.work(middleware, due, token)
      } finally cached.unpersist()
    }
  }

  /** Start one stream route: origin-topic stream → Pipeline → foreachBatch
    * dispatch (the driver loop of SURVEY §3.1's Spark equivalent). */
  def startStreamRoute(route: StreamRouteConfig,
      middleware: DataFrame => DataFrame,
      handler: Dispatch.Handler,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val t = streamTarget(route, handler)
    startPaced(route, middleware, route.topicEntity,
      s"route-${route.topicEntity}", trigger)((batch, _, token) =>
      t.emit(batch, token))
  }

  /** Serving-state route: the stream route whose output is a materialized
    * latest-per-key VIEW instead of downstream topics. The reference's
    * handlers can only push to queues/topics (SURVEY §2.2) — this is the
    * north-star serving extension: same source, too-old filter, metadata
    * enrichment, and middleware as [[startStreamRoute]], then each
    * micro-batch upserts into `sink` ([[UpsertSink]]'s bucket-pruned,
    * replay-idempotent merge), so at-least-once foreachBatch yields an
    * exactly-once view across restarts, rescale, and checkpoint replays.
    * `project` maps the piped frame (envelope columns + `message`) to the
    * view's (key, order, value…) columns. The sink's queryId must be the
    * route's view name so a checkpoint replay is recognized as one. */
  def startViewRoute(route: StreamRouteConfig,
      middleware: DataFrame => DataFrame,
      sink: UpsertSink,
      project: DataFrame => DataFrame,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val name = s"view-${route.topicEntity}"
    require(sink.queryId == name,
      s"sink queryId '${sink.queryId}' must equal the view route name " +
        s"'$name' (replay detection is keyed on it)")
    startPaced(route, middleware, name, name, trigger) { (batch, batchId, _) =>
      if (sink.apply(project(batch), batchId))
        metrics.increment(s"$name.commits")
      else metrics.increment(s"$name.replays_skipped")
    }
  }

  /** O3 runtime parallelism scaling — the Spark analogue of the reference's
    * add/remove stream threads (streams.clj:114-123 via nREPL). KStreams
    * threads change how many records are in flight per poll; here the same
    * lever is the per-trigger record budget (maxOffsetsPerTrigger /
    * maxFilesPerTrigger): the route's query is stopped (completing its
    * in-flight micro-batch) and restarted FROM ITS CHECKPOINT with the new
    * budget — no data loss, no reprocessing beyond the replay-idempotent
    * sink contract. Per-query task parallelism itself is AQE-elastic;
    * executor count is the cluster manager's dynamic-allocation knob, which
    * a library correctly leaves alone. */
  def scaleRoute(name: String, maxPerTrigger: Int): Boolean =
    Option(scalers.get(name)) match {
      case Some(scale) =>
        require(maxPerTrigger > 0, "maxPerTrigger must be > 0")
        stopRoute(name)
        scale(maxPerTrigger)
        metrics.increment(s"$name.query.rescaled")
        true
      case None => false
    }

  /** Start the retry-reader query for a route (S4's replacement): stream the
    * retry topic, release due records, re-apply the route's middleware (the
    * reference's retry consumers re-run the wrapped mapper-func,
    * messaging/consumer.clj:137-148), and re-dispatch through the same
    * handler. Not-yet-due records are re-appended (their stamp unchanged) so
    * they surface again next trigger — the TTL-requeue analogue. */
  def startRetryReader(route: StreamRouteConfig,
      middleware: DataFrame => DataFrame,
      handler: Dispatch.Handler,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startDueFilterReader(s"retry-${route.topicEntity}",
      streamTarget(route, handler), middleware, trigger)

  /** Start a channel worker (D2/E2, mapper.clj:71-111): consumes the
    * channel's topic with its own handler and channel-scoped retry config —
    * the RabbitMQ-worker analogue whose parallelism is decoupled from the
    * origin topic's partitions (workerCount → per-trigger repartition). */
  def startChannelWorker(route: StreamRouteConfig, channelName: String,
      middleware: DataFrame => DataFrame,
      handler: Dispatch.Handler,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val entity = route.topicEntity
    val (ch, chRoute) = channelRoute(route, channelName)
    // the channel entity's OWN retry/instant/DLQ topics must exist
    // before its worker emits into them (startStreamRoute provisions
    // only the origin entity's)
    topics.provision(chRoute.topicEntity, Nil)
    startWorker(s"channel-$entity-$channelName",
      topics.readStreamExact(spark,
        EngineConfig.channelTopic(entity, channelName)),
      streamTarget(chRoute, handler), middleware, trigger,
      spread = b => if (ch.workerCount > 1) b.repartition(ch.workerCount)
        else b)
  }

  /** The channel's derived route: its own topic entity (so Dispatch
    * emits into channel-scoped retry/DLQ topics) with the
    * CHANNEL-scoped retry config and no nested channels — the ONE
    * construction [[startChannelWorker]] and
    * [[startChannelRetryReader]] must agree on, or the worker would
    * park retries in a topic the reader never consumes. */
  private def channelRoute(route: StreamRouteConfig,
      channelName: String): (ChannelConfig, StreamRouteConfig) = {
    val ch = route.channels.getOrElse(channelName,
      throw new IllegalArgumentException(
        s"route '${route.topicEntity}' has no channel '$channelName'"))
    (ch, route.copy(
      topicEntity = s"${route.topicEntity}_channel_$channelName",
      retry = ch.retry, channels = Map.empty))
  }

  /** Retry reader for a CHANNEL's own retry cycle: the channel worker
    * dispatches with the channel-scoped route, so its retryable records
    * land in `<entity>_channel_<name>_retry` — a topic no route-level
    * retry reader consumes. Without this reader those records were
    * parked forever: never retried, never exhausted to the channel's
    * DLQ, silently lost (the reference's channel workers share the
    * route's RabbitMQ retry machinery, mapper.clj:71-111 — here the
    * channel's cycle is its own, so it needs its own reader).
    * [[GraftApp]] starts one per retry-enabled channel in Worker mode. */
  def startChannelRetryReader(route: StreamRouteConfig, channelName: String,
      middleware: DataFrame => DataFrame,
      handler: Dispatch.Handler,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startRetryReader(channelRoute(route, channelName)._2,
      middleware, handler, trigger)

  /** Start the instant-topic worker: consumes records the dead-set replay
    * re-published (messaging/consumer.clj:137-148's instant-queue
    * subscribers) through the same middleware + handler. */
  def startInstantWorker(route: StreamRouteConfig,
      middleware: DataFrame => DataFrame,
      handler: Dispatch.Handler,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startWorker(s"instant-${route.topicEntity}", topics.readStreamExact(spark,
      EngineConfig.instantTopic(route.topicEntity)),
      streamTarget(route, handler), middleware, trigger)

  /** Retry reader for a BATCH route: the due-filter cycle of
    * [[startRetryReader]], re-dispatching through the batch contract
    * ({skip, retry} — [[Dispatch.dispatchBatchRoute]]). Without it a
    * batch handler's retryable records were parked in the batch
    * entity's retry topic forever — Worker mode's readers consumed only
    * STREAM entities' topics, the same silent-loss class the channel
    * retry reader closed for channels. */
  def startBatchRetryReader(route: BatchRouteConfig,
      middleware: DataFrame => DataFrame,
      handler: Dispatch.Handler,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startDueFilterReader(s"retry-batch-${route.topicEntity}",
      batchTarget(route, handler), middleware, trigger)

  /** Instant-topic worker for a BATCH route: consumes the batch entity's
    * dead-set replays through the batch contract. Replay appends to
    * `<entity>_instant` regardless of route kind, and a batch DLQ is
    * reachable even with retry disabled (every retry disposition
    * dead-letters immediately then) — so without this worker a batch
    * entity's replays were re-published into a topic nothing consumed. */
  def startBatchInstantWorker(route: BatchRouteConfig,
      middleware: DataFrame => DataFrame,
      handler: Dispatch.Handler,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startWorker(s"instant-batch-${route.topicEntity}",
      topics.readStreamExact(spark,
        EngineConfig.instantTopic(route.topicEntity)),
      batchTarget(route, handler), middleware, trigger)

  /** Start a batch route (S3/E7, kafka_consumer/consumer_handler.clj):
    * polled bounded batches ≈ AvailableNow with maxFilesPerTrigger; the
    * handler's output is constrained to {skip, retry} and offsets commit
    * through the checkpoint only after retry writes land (E8, strictly
    * stronger than the reference's commitSync-after-process). */
  def startBatchRoute(route: BatchRouteConfig,
      middleware: DataFrame => DataFrame,
      handler: Dispatch.Handler,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val entity = route.topicEntity
    topics.provision(entity, Nil)
    val t = batchTarget(route, handler)
    startWorker(s"batch-$entity", topics.readStream(spark, route.originTopic,
        topics.paceOptions(route.maxPollRecords)),
      t.copy(dispatch = (df, token) => {
        metrics.increment(s"$entity.batches")
        t.dispatch(df, token)
      }), middleware, trigger)
  }

  /** Start a stream-joins route (S2/J1-J4, the reference's alpha
    * :stream-joins consumer type, streams.clj:163-179): one stream per
    * input topic, folded pairwise with per-stage windows/types, then the
    * joined payload flows through the normal dispatch. The last stage's
    * |left ts − right ts| is observed as `<entity>.join_diff` (M6). */
  def startStreamJoinRoute(route: StreamRouteConfig,
      inputTopics: Seq[String], joinCfgs: Seq[(Long, String)],
      key: String, tsCol: String,
      middleware: DataFrame => DataFrame,
      handler: Dispatch.Handler,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(inputTopics.size >= 2, "stream-joins route needs >= 2 topics")
    topics.provision(route.topicEntity, route.channels.keys)
    val streams = inputTopics.map(tp => topics.readStream(spark, tp))
    val t = streamTarget(route, handler)
    startQuery(s"joinroute-${route.topicEntity}")(
      StreamJoins.observeJoinDiff(s"${route.topicEntity}.join_diff")(
        StreamJoins.joinChain(streams, key, tsCol, joinCfgs)), trigger,
      subdir = s"join-${route.topicEntity}")((batch, _, token) =>
      t.emit(middleware(batch), token))
  }

  /** Start an analytics route: a continuous windowed/stateful aggregation
    * over the origin topic — the §2.6 relational surface executed as a
    * streaming query (use `withWatermark` + `window`/`session_window` in
    * `transform`) — with result rows published to a sink topic as JSON
    * envelopes. This is the capability step from "stream router"
    * (the reference's surface) to "streaming analytics engine" (the north
    * star): same route lifecycle, checkpointing, and idempotent sink
    * semantics as dispatch routes. */
  def startAnalyticsRoute(name: String, originTopic: String, sinkTopic: String,
      aggregation: DataFrame => DataFrame,
      keyCol: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import org.apache.spark.sql.functions._
    startQuery(s"analytics-$name")(
      aggregation(topics.readStream(spark, originTopic)), trigger,
      outputMode = "update") { (batch, _, token) =>
      val env = batch.select(
        keyCol.map(k => col(k).cast("string").cast("binary"))
          .getOrElse(lit(null).cast("binary")).as("key"),
        to_json(struct(batch.columns.map(col).toIndexedSeq: _*))
          .cast("binary").as("value"),
        lit(sinkTopic).as("topic"),
        lit(0).as("partition"),
        lit(0L).as("offset"),
        current_timestamp().as("timestamp"),
        lit(name).as("topicEntity"),
        lit(null).cast("int").as("retryCount"),
        lit(null).cast("timestamp").as("nextAttemptAt"),
        lit(null).cast("string").as("channel"))
      topics.appendIdempotent(env, sinkTopic, token)
      metrics.increment(s"$name.analytics.batches")
    }
  }

  /** O2: stop/restart a single route's query at runtime (same bounded
    * drain window as [[stopAll]]). */
  def stopRoute(name: String): Boolean =
    Option(queries.remove(name)).map { q =>
      withDrainTimeout { q.stop() }; true
    }.getOrElse(false)

  /** Guards [[withDrainTimeout]]'s save/set/restore of the session-global
    * stop-timeout: the ManagementServer serves stop requests from a
    * 4-thread pool, and two concurrent stopRoute calls interleaving the
    * save/restore would let one capture the other's TEMPORARY value as
    * "prior" — leaking drainTimeoutMs into the session (or clobbering a
    * co-resident session default) after both return. JVM-global, not
    * per-engine: several engines can share one SparkSession, and the conf
    * they race on is the session's. */
  private def drainTimeoutLock = GraftEngine.drainConfLock

  /** Applies cfg.drainTimeoutMs as Spark's stop-timeout for the duration
    * of `body`, then RESTORES the session's prior value: the conf is
    * session-global, and leaking it would change stop() semantics for
    * co-resident queries and other engines on the shared session (their
    * expectation is Spark's default — wait indefinitely). Serialized on
    * [[drainTimeoutLock]]; q.stop() inside the lock is bounded by the
    * very stop-timeout being applied, so the serialization cannot hang
    * other stop requests indefinitely. */
  private[streaming] def withDrainTimeout[T](body: => T): T =
    drainTimeoutLock.synchronized {
    val key = "spark.sql.streaming.stopTimeout"
    val prior =
      try spark.conf.getOption(key)
      catch { case scala.util.control.NonFatal(_) => None }
    try spark.conf.set(key, cfg.drainTimeoutMs.toString)
    catch { case scala.util.control.NonFatal(_) => () }
    try body
    finally {
      try prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  def runningQueries: Map[String, StreamingQuery] =
    queries.asScala.toMap.filter(_._2.isActive)

  /** Block until every tracked query has terminated. Re-reads the
    * registry after each wave: under [[FailurePolicy.Restart]] the
    * listener replaces a failed query with a NEW StreamingQuery object,
    * so awaiting only the objects captured up front would return while
    * the replacement is still running — the caller's main would exit and
    * the shutdown hook would kill the freshly restarted route,
    * silently degrading Restart to StopAll. */
  def awaitAll(): Unit = {
    // `done` accumulates across waves: a terminated query that stays in
    // the registry (terminated normally, not replaced by the Restart
    // listener) must never re-enter a later wave, or with >=2 routes the
    // waves alternate between forgetting and re-awaiting it and this
    // loop busy-spins forever once every query has terminated.
    var done = Set.empty[java.util.UUID]
    var wave = queries.asScala.values.toSeq
    while (wave.nonEmpty) {
      wave.foreach { q =>
        try q.awaitTermination()
        catch {
          // under Restart the listener already replaced the failed
          // query (the next wave awaits the replacement); under the
          // stop policies the failure propagates, as before
          case e: org.apache.spark.sql.streaming.StreamingQueryException =>
            if (failurePolicy != FailurePolicy.Restart) throw e
        }
      }
      done ++= wave.map(_.id)
      wave = queries.asScala.values.toSeq
        .filter(q => q.isActive || !done.contains(q.id))
    }
  }

  /** E11 drain: stop everything, bounded by drainTimeoutMs per query;
    * then shut down push-metrics backends (metrics_interface.clj
    * `terminate` runs on service stop). TERMINAL: the engine
    * deregisters its listener and its shutdown hook and clears its
    * tracking state, so queries started on this instance afterwards get
    * no failure policy and no metrics — build a fresh GraftEngine
    * instead. A second call is a no-op. */
  def stopAll(): Unit = {
    // decommission FIRST: a stopped engine must never bind or act on a
    // later engine's same-named queries on the shared session — with the
    // listener left registered and the name maps populated, a foreign
    // 'route-<entity>' start would re-enter THIS engine's failure policy
    // (under Restart it would even resurrect the stopped query against
    // the live engine's checkpoint). Safe from inside the listener
    // itself (the StopAll policy path): Spark's listener bus iterates a
    // copy-on-write list.
    spark.streams.removeListener(lifecycleListener)
    queryNameToTrack.clear()
    idToName.clear()
    starters.clear()
    scalers.clear()
    // E11 bounded drain: cfg.drainTimeoutMs caps how long each stop()
    // waits for its stream thread (Spark's own stop timeout knob)
    withDrainTimeout {
      queries.asScala.values.foreach { q =>
        try q.stop() catch { case _: Throwable => () }
      }
    }
    metrics.terminateSinks()
    // inside the hook itself the JVM is already shutting down, and
    // removing any hook then throws
    try Runtime.getRuntime.removeShutdownHook(shutdownHook)
    catch { case _: IllegalStateException => () }
  }

  private[streaming] val shutdownHook = new Thread(() => stopAll())
  Runtime.getRuntime.addShutdownHook(shutdownHook)
}

object GraftEngine {
  /** JVM-global lock for the session-global stop-timeout save/set/restore
    * (see withDrainTimeout): engines sharing a SparkSession race on one
    * conf, so the lock must outscope any single engine. */
  private[streaming] val drainConfLock = new Object
}
