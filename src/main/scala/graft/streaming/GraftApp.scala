package graft.streaming

import graft.server.{ManagementServer, UserRoute}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** Per-route user wiring: middleware + handler (the route map the user
  * passes to the reference's init/main, init.clj:244-273). */
final case class RouteWiring(
    middleware: DataFrame => DataFrame,
    handler: Dispatch.Handler)

/** D3/O7 mode-driven lifecycle (init.clj:121-143): `start(modes)` brings up
  * the subsystems a deployment runs —
  *
  *   StreamWorker → one query per stream route (origin topic → dispatch)
  *   Worker       → retry readers + instant workers + channel workers
  *   BatchWorker  → one query per batch route
  *   ApiServer    → the management HTTP server
  *
  * `stop()` drains queries then the server (shutdown-hook order,
  * init.clj:178-183).
  */
final class GraftApp(
    spark: SparkSession,
    cfg: EngineConfig,
    topics: TopicIO,
    checkpointDir: String,
    streamWiring: Map[String, RouteWiring] = Map.empty,
    batchWiring: Map[String, RouteWiring] = Map.empty,
    failurePolicy: FailurePolicy = FailurePolicy.StopQuery,
    trigger: Trigger = Trigger.AvailableNow(),
    userRoutes: Seq[UserRoute] = Nil) {

  {
    // route/wiring cross-validation ≡ init.clj:202-224
    val missingStream = cfg.streamRoutes.keySet -- streamWiring.keySet
    val missingBatch = cfg.batchRoutes.keySet -- batchWiring.keySet
    require(missingStream.isEmpty && missingBatch.isEmpty,
      s"routes without wiring: stream=$missingStream batch=$missingBatch")
    // config-driven state-store selection: SQL confs are settable at
    // runtime and read per-query at stream start, so applying here covers
    // every route this app starts
    if (cfg.stateStore == "rocksdb")
      graft.GraftSession.rocksdbConfs.foreach { case (k, v) =>
        spark.conf.set(k, v)
      }
  }

  val engine = new GraftEngine(spark, cfg, topics, checkpointDir,
    failurePolicy = failurePolicy)
  private var server: Option[ManagementServer] = None

  def start(modes: Set[Mode]): Unit = {
    if (modes.contains(Mode.StreamWorker))
      cfg.streamRoutes.foreach { case (entity, route) =>
        val w = streamWiring(entity)
        engine.startStreamRoute(route, w.middleware, w.handler, trigger)
      }
    if (modes.contains(Mode.BatchWorker))
      cfg.batchRoutes.foreach { case (entity, route) =>
        val w = batchWiring(entity)
        engine.startBatchRoute(route, w.middleware, w.handler, trigger)
      }
    if (modes.contains(Mode.Worker)) {
      cfg.streamRoutes.foreach { case (entity, route) =>
        val w = streamWiring(entity)
        // gated like the channel reader below: with retry disabled the
        // dispatcher never writes the retry topic (retry dispositions
        // dead-letter immediately), so a reader would poll an
        // always-empty topic forever. The instant worker stays
        // unconditional — the DLQ (and so dead-set replay) is reachable
        // without retry via direct dead_letter dispositions.
        if (route.retry.enabled)
          engine.startRetryReader(route, w.middleware, w.handler, trigger)
        engine.startInstantWorker(route, w.middleware, w.handler, trigger)
        route.channels.foreach { case (ch, chCfg) =>
          engine.startChannelWorker(route, ch, w.middleware, w.handler, trigger)
          // the channel's OWN retry cycle needs its own reader — the
          // route retry reader consumes only the route's retry topic
          if (chCfg.retry.enabled)
            engine.startChannelRetryReader(route, ch,
              w.middleware, w.handler, trigger)
        }
      }
      // batch entities complete their cycles too: the readers above
      // consume only stream entities' topics, so a batch handler's
      // retryable records (and dead-set replays) were parked in topics
      // nothing consumed
      cfg.batchRoutes.foreach { case (entity, route) =>
        val w = batchWiring(entity)
        if (route.retry.enabled)
          engine.startBatchRetryReader(route, w.middleware, w.handler,
            trigger)
        engine.startBatchInstantWorker(route, w.middleware, w.handler,
          trigger)
      }
    }
    if (modes.contains(Mode.ApiServer)) {
      val s = new ManagementServer(spark, engine, cfg.httpPort, userRoutes)
      s.start()
      server = Some(s)
    }
  }

  def httpPort: Option[Int] = server.map(_.boundPort)

  def awaitAll(): Unit = engine.awaitAll()

  def stop(): Unit = {
    engine.stopAll()
    server.foreach(_.stop())
    server = None
  }
}

object GraftApp {
  /** Boot from a config file + env overrides (the reference's
    * config.edn/clonfig path, config.clj:76-91): parse, overlay env, build
    * the typed config — `EngineConfig.validate` then runs inside the
    * engine's constructor, so an invalid file fails the boot loudly. */
  def fromConfigFile(
      spark: SparkSession,
      configPath: String,
      topics: TopicIO,
      checkpointDir: String,
      streamWiring: Map[String, RouteWiring] = Map.empty,
      batchWiring: Map[String, RouteWiring] = Map.empty,
      failurePolicy: FailurePolicy = FailurePolicy.StopQuery,
      trigger: Trigger = Trigger.AvailableNow(),
      env: Map[String, String] = sys.env,
      userRoutes: Seq[UserRoute] = Nil): GraftApp =
    // userRoutes passes through — without it the config-file boot path
    // could never mount user HTTP routes on the ApiServer (the two boot
    // paths silently diverged in capability)
    new GraftApp(spark, ConfigLoader.loadFile(configPath, env), topics,
      checkpointDir, streamWiring, batchWiring, failurePolicy, trigger,
      userRoutes)
}
