package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.functions._
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.URI

/** D3/O7 mode-driven lifecycle + E12 failure policy + S3 batch routes. */
class AppSpec extends SparkSuite {

  private def now = new java.sql.Timestamp(System.currentTimeMillis)

  test("GraftApp boots from a config file with env overrides and processes " +
      "end-to-end (config.clj:76-91 path)") {
    val dir = tmpDir("appconf")
    val topics = new FileTopicIO(s"$dir/topics")
    val confPath = s"$dir/graft.conf"
    java.nio.file.Files.write(java.nio.file.Paths.get(confPath),
      """graft {
        |  http-port = 0
        |  stream-routes {
        |    cf {
        |      origin-topic = "cf_origin"
        |      retry { enabled = true, count = 3, queue-timeout-ms = 0 }
        |    }
        |  }
        |}""".stripMargin.getBytes("UTF-8"))
    val app = GraftApp.fromConfigFile(spark, confPath, topics, s"$dir/ckpt",
      streamWiring = Map("cf" -> RouteWiring(identity,
        Dispatch.ExprHandler(lit("success")))),
      env = Map("GRAFT_STREAM_ROUTES_CF_RETRY_COUNT" -> "1"))
    assert(app.engine.metrics != null)
    topics.append(envelopes("cf", Seq(("k", "v", now))), "cf_origin")
    app.start(Set(Mode.StreamWorker))
    app.awaitAll()
    assert(app.engine.metrics.count("cf.message.success") == 1)
    app.stop()
  }

  test("GraftApp starts all subsystems by mode and processes end-to-end") {
    val dir = tmpDir("app")
    val topics = new FileTopicIO(s"$dir/topics")
    val sroute = StreamRouteConfig("s", "s_origin",
      retry = RetryConfig(enabled = true, count = 1, queueTimeoutMs = 0L))
    val broute = BatchRouteConfig("b", "b_origin",
      retry = RetryConfig(enabled = true, count = 1))
    val cfg = EngineConfig(
      streamRoutes = Map("s" -> sroute),
      batchRoutes = Map("b" -> broute),
      httpPort = 0)
    val app = new GraftApp(spark, cfg, topics, s"$dir/ckpt",
      streamWiring = Map("s" -> RouteWiring(identity,
        Dispatch.ExprHandler(when(col("value").cast("string") === "bad",
          "retry").otherwise("success")))),
      batchWiring = Map("b" -> RouteWiring(identity,
        Dispatch.ExprHandler(lit("skip")))))

    topics.append(envelopes("s", Seq(("k1", "ok", now), ("k2", "bad", now))),
      "s_origin")
    // three separate appends → ≥3 files; maxFilesPerTrigger=1 paces the
    // batch route into multiple polls (S3 max-poll-records semantics)
    topics.append(envelopes("b", Seq(("k3", "x", now))), "b_origin")
    topics.append(envelopes("b", Seq(("k4", "y", now))), "b_origin")
    topics.append(envelopes("b", Seq(("k5", "z", now))), "b_origin")

    app.start(Set(Mode.StreamWorker, Mode.BatchWorker, Mode.ApiServer))
    app.awaitAll()
    assert(app.engine.metrics.count("s.message.success") == 1)
    assert(app.engine.metrics.count("s.message.retry") == 1)
    assert(app.engine.metrics.count("b.message.skip") == 3)
    // pacing: one file per trigger → at least 3 micro-batches
    assert(app.engine.metrics.count("b.batches") >= 3)

    // Worker mode drains the retry topic (due immediately, timeout 0)
    app.start(Set(Mode.Worker))
    app.awaitAll()
    assert(topics.read(spark, "s_retry").count() == 1) // consumed once; hop recorded

    // HTTP up
    val port = app.httpPort.get
    val r = HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/ping"))
        .GET().build(), HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200 && r.body() == "pong")
    app.stop()
  }

  test("Worker mode gates the route retry reader on retry.enabled (a " +
      "disabled route's dispatcher never writes its retry topic, so a " +
      "reader would poll an always-empty topic forever) and completes " +
      "BATCH cycles: retry-batch + instant-batch readers per batch route") {
    val dir = tmpDir("appworker")
    val topics = new FileTopicIO(s"$dir/topics")
    val sroute = StreamRouteConfig("sn", "sn_origin") // retry DISABLED
    val broute = BatchRouteConfig("bn", "bn_origin",
      retry = RetryConfig(enabled = true, count = 1, queueTimeoutMs = 0L))
    val cfg = EngineConfig(
      streamRoutes = Map("sn" -> sroute),
      batchRoutes = Map("bn" -> broute))
    val app = new GraftApp(spark, cfg, topics, s"$dir/ckpt",
      streamWiring = Map("sn" -> RouteWiring(identity,
        Dispatch.ExprHandler(lit("success")))),
      batchWiring = Map("bn" -> RouteWiring(identity,
        Dispatch.ExprHandler(lit("skip")))),
      // a running trigger keeps the workers active for the assertions
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(100))
    topics.provision("sn", Nil)
    topics.provision("bn", Nil)
    app.start(Set(Mode.Worker))
    try {
      val names = app.engine.runningQueries.keySet
      assert(!names.contains("retry-sn"),
        s"retry-disabled route must get no retry reader: $names")
      assert(names.contains("instant-sn"),
        s"instant worker is unconditional (DLQ reachable without retry): $names")
      assert(names.contains("retry-batch-bn"),
        s"batch retry cycle needs its reader: $names")
      assert(names.contains("instant-batch-bn"),
        s"batch replays need their worker: $names")
    } finally app.stop()
  }

  test("missing wiring for a declared route is rejected") {
    val dir = tmpDir("app2")
    val cfg = EngineConfig(streamRoutes =
      Map("s" -> StreamRouteConfig("s", "s_origin")))
    intercept[IllegalArgumentException] {
      new GraftApp(spark, cfg, new FileTopicIO(s"$dir/topics"), s"$dir/ckpt")
    }
  }

  test("E12 failure policy: failing route counted and left stopped (StopQuery)") {
    val dir = tmpDir("app3")
    val topics = new FileTopicIO(s"$dir/topics")
    val route = StreamRouteConfig("f", "f_origin")
    val engine = new GraftEngine(spark,
      EngineConfig(streamRoutes = Map("f" -> route)), topics, s"$dir/ckpt",
      failurePolicy = FailurePolicy.StopQuery)
    topics.append(envelopes("f", Seq(("k", "v", now))), "f_origin")
    val boom = new Dispatch.Handler {
      def apply(b: org.apache.spark.sql.DataFrame) =
        throw new RuntimeException("handler exploded")
    }
    val q = engine.startStreamRoute(route, identity, boom)
    intercept[Exception] { q.awaitTermination() }
    // listener delivery is async
    val deadline = System.currentTimeMillis + 10000
    while (engine.metrics.count("f.query.failed") == 0
        && System.currentTimeMillis < deadline) Thread.sleep(100)
    assert(engine.metrics.count("f.query.failed") == 1)
    assert(!engine.runningQueries.contains("f"))
    engine.stopAll()
  }

  test("E12 listener ignores co-resident queries started WITHOUT a " +
      "queryName: QueryStartedEvent.name is null there, and the id→track " +
      "binding (a CHM that throws on null keys) must stay silent for " +
      "queries that are not ours") {
    val dir = tmpDir("unnamed")
    val engine = new GraftEngine(spark,
      EngineConfig(), new FileTopicIO(s"$dir/topics"), s"$dir/ckpt",
      failurePolicy = FailurePolicy.StopAll)
    // foreign unnamed stream on the SAME session: its started event
    // reaches the engine's listener with e.name == null
    val foreign = spark.readStream.format("rate")
      .option("rowsPerSecond", "1").load()
      .writeStream.format("console")
      .option("numRows", "0")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    foreign.awaitTermination(30000)
    foreign.stop()
    // the engine tracked nothing and the failure policy never fired
    assert(engine.runningQueries.isEmpty)
    // the DISCRIMINATING probe (the event path above cannot be: Spark's
    // listener bus swallows listener exceptions, so even the unguarded
    // CHM.get(null) NPE would pass it): the binding itself must accept
    // a null query name silently
    engine.bindStarted(null, java.util.UUID.randomUUID())
    assert(engine.runningQueries.isEmpty)
    engine.stopAll()
  }

  test("stopAll applies the configured drain window (E11) SCOPED: " +
      "spark.sql.streaming.stopTimeout = drain-timeout-ms inside the " +
      "stop loop, then RESTORED — the conf is session-global, and " +
      "leaking it would change stop() semantics for co-resident queries") {
    val key = "spark.sql.streaming.stopTimeout"
    // RuntimeConfig is per-session: an isolated child session keeps the
    // assertions away from sibling suites' engines racing on the knob
    val sess = spark.newSession()
    val prior = sess.conf.getOption(key)
    val dir = tmpDir("drain")
    val engine = new GraftEngine(sess,
      EngineConfig(drainTimeoutMs = 1234L),
      new FileTopicIO(s"$dir/topics"), s"$dir/ckpt")
    // applied during the drain...
    var during: Option[String] = None
    engine.withDrainTimeout { during = sess.conf.getOption(key) }
    assert(during.contains("1234"))
    // ...and restored afterwards, both from an unset prior
    assert(sess.conf.getOption(key) == prior)
    // and from a set prior
    sess.conf.set(key, "9999")
    engine.stopAll()
    assert(sess.conf.get(key) == "9999")
  }

  test("stopAll decommissions the engine: its lifecycle listener is " +
      "removed from the shared session, so a stale engine can never " +
      "bind or act on a later engine's same-named queries") {
    val dir = tmpDir("decomm")
    val engine = new GraftEngine(spark,
      EngineConfig(), new FileTopicIO(s"$dir/topics"), s"$dir/ckpt")
    // identity-based (suites share the session and may run concurrently,
    // so absolute listener counts would race with sibling engines)
    def registered = spark.streams.listListeners()
      .exists(_ eq engine.lifecycleListener)
    assert(registered)
    engine.stopAll()
    assert(!registered)
    // idempotent: the shutdown hook calls stopAll again
    engine.stopAll()
    assert(!registered)
  }

  test("state-store = rocksdb in the engine config applies the RocksDB " +
      "provider confs to the session at app construction") {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = graft.GraftSession.rocksdbConfs.keys
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      val dir = tmpDir("app4")
      val cfg = EngineConfig(
        streamRoutes = Map("s" -> StreamRouteConfig("s", "s_origin")),
        stateStore = "rocksdb")
      new GraftApp(spark, cfg, new FileTopicIO(s"$dir/topics"), s"$dir/ckpt",
        streamWiring = Map("s" -> RouteWiring(identity,
          Dispatch.ExprHandler(lit("success")))))
      assert(spark.conf.get(providerKey) ==
        graft.GraftSession.RocksDbProvider)
      graft.GraftSession.rocksdbConfs.keys.foreach(k =>
        assert(spark.conf.getOption(k).isDefined))
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
