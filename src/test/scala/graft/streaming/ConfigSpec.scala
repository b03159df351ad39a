package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

class ConfigSpec extends AnyFunSuite {

  private def route(entity: String = "default") = StreamRouteConfig(
    topicEntity = entity, originTopic = s"$entity-topic")

  test("valid config passes validation") {
    val cfg = EngineConfig(streamRoutes = Map("default" -> route()))
    assert(EngineConfig.validate(cfg).isEmpty)
  }

  test("entity in both stream and batch routes is rejected (init.clj:202-224)") {
    val cfg = EngineConfig(
      streamRoutes = Map("e" -> route("e")),
      batchRoutes = Map("e" -> BatchRouteConfig("e", "t")))
    assert(EngineConfig.validate(cfg).exists(_.contains("both stream and batch")))
  }

  test("key/entity mismatch, empty origin-topic, bad retry are all reported") {
    val cfg = EngineConfig(streamRoutes = Map(
      "a" -> route("b").copy(originTopic = ""),
      "c" -> route("c").copy(retry = RetryConfig(enabled = true, count = 30,
        backoffType = BackoffType.Exponential))))
    val errs = EngineConfig.validate(cfg)
    assert(errs.exists(_.contains("key 'a' != entity 'b'")))
    assert(errs.exists(_.contains("empty origin-topic")))
    assert(errs.exists(_.contains("> 25")))
  }

  test("channel validation: name mismatch and non-positive worker count") {
    val cfg = EngineConfig(streamRoutes = Map("e" -> route("e").copy(
      channels = Map("c1" -> ChannelConfig("other", workerCount = 0)))))
    val errs = EngineConfig.validate(cfg)
    assert(errs.exists(_.contains("channel key 'c1' != name 'other'")))
    assert(errs.exists(_.contains("worker-count must be > 0")))
  }

  test("batch routes and channels get the stream route's retry checks: " +
      "no negative count, exponential count at most 25") {
    val negative = RetryConfig(enabled = true, count = -1)
    val deep = RetryConfig(enabled = true, count = 26,
      backoffType = BackoffType.Exponential)
    val cfg = EngineConfig(
      streamRoutes = Map("e" -> route("e").copy(channels = Map(
        "neg" -> ChannelConfig("neg", retry = negative),
        "deep" -> ChannelConfig("deep", retry = deep)))),
      batchRoutes = Map(
        "bn" -> BatchRouteConfig("bn", "t", retry = negative),
        "bd" -> BatchRouteConfig("bd", "t", retry = deep)))
    val errs = EngineConfig.validate(cfg)
    assert(errs.toSet == Set(
      "channel 'neg' in route 'e': negative retry count",
      "channel 'deep' in route 'e': exponential retry count > 25",
      "batch route 'bn': negative retry count",
      "batch route 'bd': exponential retry count > 25"), errs)
    // 25 is the ladder's depth, still valid
    val atLimit = deep.copy(count = 25)
    assert(EngineConfig.validate(EngineConfig(
      streamRoutes = Map("e" -> route("e").copy(channels = Map(
        "c" -> ChannelConfig("c", retry = atLimit)))),
      batchRoutes = Map("b" -> BatchRouteConfig("b", "t", retry = atLimit))))
      .isEmpty)
  }

  test("an integer key outside the Int range is a ParseError naming the " +
      "key, not a silently truncated value") {
    for (v <- Seq("4294967297", "2147483648", "-2147483649")) {
      val e = intercept[ConfigLoader.ParseError](ConfigLoader.load(
        s"graft { stream-routes { r { origin-topic = t, retry { count = $v } } } }",
        env = Map.empty))
      assert(e.getMessage.contains("'count'") && e.getMessage.contains(v),
        e.getMessage)
    }
    intercept[ConfigLoader.ParseError](ConfigLoader.load(
      "graft { http-port = 4294967297 }", env = Map.empty))
    // the Int bounds themselves load
    val cfg = ConfigLoader.load("graft { stream-routes { r { " +
      "origin-topic = t, retry { count = 2147483647 } } } }", env = Map.empty)
    assert(cfg.streamRoutes("r").retry.count == Int.MaxValue)
  }

  test("topic naming mirrors the reference queue topology") {
    assert(EngineConfig.retryTopic("app") == "app_retry")
    assert(EngineConfig.deadLetterTopic("app") == "app_dead_letter")
    assert(EngineConfig.instantTopic("app") == "app_instant")
    assert(EngineConfig.channelTopic("app", "c1") == "app_channel_c1")
  }

  private val sampleConf = """
    |# sample app config (config.edn twin)
    |graft {
    |  http-port = 8123 // trailing comment must not join the value
    |  drain-timeout-ms = 7000
    |  stream-routes {
    |    orders {
    |      origin-topic = "orders-events.*"
    |      oldest-processed-message-in-s = 3600
    |      thread-count = 2
    |      retry { enabled = true, count = 5, type = exponential,
    |              queue-timeout-ms = 250 }
    |      channels {
    |        geo { worker-count = 8
    |              retry { enabled = true, count = 2, type = linear } }
    |      }
    |      exact-retry-release = true
    |    }
    |    clicks.origin-topic = "clicks"   // dotted-key form
    |  }
    |  batch-routes {
    |    nightly { origin-topic = "rollup", max-poll-records = 250 }
    |  }
    |}""".stripMargin

  test("config file round-trips into the typed EngineConfig with defaults " +
      "filled (config.clj:76-91 twin)") {
    val cfg = ConfigLoader.load(sampleConf, env = Map.empty)
    assert(cfg.httpPort == 8123 && cfg.drainTimeoutMs == 7000L)
    val orders = cfg.streamRoutes("orders")
    assert(orders.originTopic == "orders-events.*")
    assert(orders.oldestProcessedMessageInS == 3600L)
    assert(orders.threadCount == 2 && orders.exactRetryRelease)
    assert(orders.retry == RetryConfig(enabled = true, count = 5,
      backoffType = BackoffType.Exponential, queueTimeoutMs = 250L))
    assert(orders.channels("geo").workerCount == 8)
    assert(orders.channels("geo").retry.count == 2)
    // dotted-key route picks up every default
    val clicks = cfg.streamRoutes("clicks")
    assert(clicks.originTopic == "clicks"
      && clicks.retry == RetryConfig()
      && clicks.oldestProcessedMessageInS == 604800L)
    assert(cfg.batchRoutes("nightly").maxPollRecords == 250)
    assert(cfg.batchRoutes("nightly").threadCount == 2)
    assert(EngineConfig.validate(cfg).isEmpty)
  }

  test("QUOTED keys are single path segments (the HOCON escape): a " +
      "dotted topic entity is representable instead of exploding into " +
      "nested objects and failing with a misleading empty-origin error") {
    val cfg = ConfigLoader.load(
      """http-port = 8200
        |stream-routes {
        |  "orders.v1" {
        |    origin-topic = "orders-v1-events"
        |  }
        |}
        |""".stripMargin, env = Map.empty)
    assert(cfg.streamRoutes.contains("orders.v1"),
      cfg.streamRoutes.keys.mkString(","))
    assert(cfg.streamRoutes("orders.v1").originTopic == "orders-v1-events")
  }

  test("quoted keys are LITERAL (never trimmed) and an empty/blank " +
      "quoted key fails the parse like an empty bare token — before, " +
      "it trimmed to an empty path and put() silently dropped the value") {
    // literal: the leading space is part of the key
    val obj = ConfigLoader.parse("\" orders.v1\" = 1")
    assert(obj.contains(" orders.v1"), obj.keys.mkString("|"))
    // empty and whitespace-only quoted keys fail loudly
    val e1 = intercept[ConfigLoader.ParseError](
      ConfigLoader.parse("\"\" = 9001"))
    assert(e1.getMessage.contains("empty quoted key"))
    intercept[ConfigLoader.ParseError](
      ConfigLoader.parse("\"  \" { a = 1 }"))
  }

  test("a dots-only bare key fails the parse instead of silently " +
      "dropping its value (the quoted branch's empty-key rule, applied " +
      "to the bare-token path: '.' filtered to an empty path and put() " +
      "was a no-op)") {
    val e = intercept[ConfigLoader.ParseError](
      ConfigLoader.parse(". = 5"))
    assert(e.getMessage.contains("empty key"), e.getMessage)
  }

  test("siblings of the graft wrapper are LINTED, not silently ignored: " +
      "toEngineConfig reads only the graft block, so a statsd section " +
      "indented outside it stayed at defaults with no warning") {
    val root = ConfigLoader.parse(
      """graft { http-port = 8010 }
        |statsd { enabled = true }
        |""".stripMargin)
    val unknown = ConfigLoader.unknownKeys(root)
    assert(unknown.exists(_.startsWith("statsd")), unknown.mkString(","))
    assert(unknown.exists(_.contains("outside the graft block")), unknown)
  }

  test("env-var names drop ONLY a leading graft wrapper segment: an " +
      "entity literally named 'graft' keeps its segment (the old " +
      "any-depth filter collided its variable with the parent path, " +
      "making the route untargetable — and mistargetable — from the env)") {
    val root = ConfigLoader.parse(
      """graft {
        |  stream-routes { graft { origin-topic = "g-events" } }
        |}""".stripMargin)
    ConfigLoader.overlayEnv(root, Map(
      // the CORRECT name targets the entity...
      "GRAFT_STREAM_ROUTES_GRAFT_ORIGIN_TOPIC" -> "overridden"))
    val route = root("graft").asInstanceOf[ConfigLoader.Obj](
      "stream-routes").asInstanceOf[ConfigLoader.Obj](
      "graft").asInstanceOf[ConfigLoader.Obj]
    assert(route("origin-topic") == "overridden", route)
  }

  test("drain-timeout-ms must be positive: Spark treats a non-positive " +
      "stop timeout as wait-indefinitely, inverting the E11 bounded " +
      "drain into an unbounded hang") {
    for (bad <- Seq(0L, -5L)) {
      val errs = EngineConfig.validate(EngineConfig(drainTimeoutMs = bad))
      assert(errs.exists(_.contains("drain-timeout-ms must be > 0")), errs)
    }
    assert(EngineConfig.validate(EngineConfig(drainTimeoutMs = 1L)).isEmpty)
  }

  test("environment variables override file values clonfig-style") {
    val cfg = ConfigLoader.load(sampleConf, env = Map(
      "GRAFT_HTTP_PORT" -> "9001",
      "GRAFT_STREAM_ROUTES_ORDERS_RETRY_COUNT" -> "9",
      "GRAFT_STREAM_ROUTES_ORDERS_RETRY_TYPE" -> "linear",
      "GRAFT_BATCH_ROUTES_NIGHTLY_MAX_POLL_RECORDS" -> "100",
      "GRAFT_STREAM_ROUTES_ORDERS_EXACT_RETRY_RELEASE" -> "false"))
    assert(cfg.httpPort == 9001)
    assert(cfg.streamRoutes("orders").retry.count == 9)
    assert(cfg.streamRoutes("orders").retry.backoffType == BackoffType.Linear)
    assert(cfg.batchRoutes("nightly").maxPollRecords == 100)
    assert(!cfg.streamRoutes("orders").exactRetryRelease)
  }

  test("the plural oldest-processed-messages-in-s is accepted as an alias " +
      "for the reference's singular key (config.clj:167)") {
    val cfg = ConfigLoader.load(
      """graft { stream-routes { r {
        |  origin-topic = t
        |  oldest-processed-messages-in-s = 120 } } }""".stripMargin,
      env = Map.empty)
    assert(cfg.streamRoutes("r").oldestProcessedMessageInS == 120L)
    // singular wins when both are present
    val both = ConfigLoader.load(
      """graft { stream-routes { r {
        |  origin-topic = t
        |  oldest-processed-message-in-s = 60
        |  oldest-processed-messages-in-s = 120 } } }""".stripMargin,
      env = Map.empty)
    assert(both.streamRoutes("r").oldestProcessedMessageInS == 60L)
  }

  test("unknown keys are reported instead of silently ignored") {
    val root = ConfigLoader.parse(
      """graft {
        |  http-prot = 1
        |  stream-routes { r {
        |    origin-topic = t
        |    oldest-processed-msg-in-s = 9
        |    retry { enable = true }
        |    channels { c { workers = 3 } }
        |  } }
        |  batch-routes { b { origin-topic = t, max-pol-records = 5 } }
        |}""".stripMargin)
    val unknown = ConfigLoader.unknownKeys(root)
    assert(unknown.contains("graft.http-prot"))
    assert(unknown.contains("graft.stream-routes.r.oldest-processed-msg-in-s"))
    assert(unknown.contains("graft.stream-routes.r.retry.enable"))
    assert(unknown.contains("graft.stream-routes.r.channels.c.workers"))
    assert(unknown.contains("graft.batch-routes.b.max-pol-records"))
    assert(unknown.size == 5, s"got $unknown")
    assert(ConfigLoader.unknownKeys(ConfigLoader.parse(sampleConf)).isEmpty)
  }

  test("malformed config fails loudly with an offset") {
    val err = intercept[ConfigLoader.ParseError](
      ConfigLoader.parse("graft { http-port = }"))
    assert(err.getMessage.contains("offset"))
    intercept[ConfigLoader.ParseError](
      ConfigLoader.parse("graft { unclosed { a = 1 }"))
    intercept[ConfigLoader.ParseError](ConfigLoader.load(
      "graft { stream-routes { r { retry { type = quadratic } } } }",
      env = Map.empty))
  }

  test("state-store key loads, validates, and rejects unknown providers") {
    val cfg = ConfigLoader.load(
      """graft {
        |  state-store = rocksdb
        |  stream-routes { r { origin-topic = t } } }""".stripMargin,
      env = Map.empty)
    assert(cfg.stateStore == "rocksdb")
    assert(EngineConfig.validate(cfg).isEmpty)
    assert(EngineConfig().stateStore == "memory")
    val bad = EngineConfig(stateStore = "levelsdb")
    assert(EngineConfig.validate(bad)
      .exists(_.contains("not one of: memory, rocksdb")))
    // still lint-clean: state-store is a known root key
    assert(ConfigLoader.unknownKeys(ConfigLoader.parse(
      "graft { state-store = rocksdb }")).isEmpty)
  }

  test("security config translates to kafka.* source/sink options (config.clj:233-298 twin)") {
    val sec = SecurityConfig(
      protocol = Some("SASL_SSL"),
      sslTruststoreLocation = Some("/etc/tls/trust.jks"),
      sslTruststorePassword = Some("ts-secret"),
      saslMechanism = Some("PLAIN"),
      saslJaasConfig = Some(SecurityConfig.plainJaas("svc", "pw")))
    val o = sec.kafkaOptions
    assert(o("kafka.security.protocol") == "SASL_SSL")
    assert(o("kafka.ssl.truststore.location") == "/etc/tls/trust.jks")
    assert(o("kafka.sasl.mechanism") == "PLAIN")
    assert(o("kafka.sasl.jaas.config").contains("username=\"svc\""))
    assert(!o.contains("kafka.ssl.keystore.location"),
      "unset fields must not emit options")
    assert(SecurityConfig().kafkaOptions.isEmpty)
  }
}
