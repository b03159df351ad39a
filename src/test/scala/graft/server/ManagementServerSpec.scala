package graft.server

import graft.SparkSuite
import graft.streaming._
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.URI

/** O1 management HTTP endpoints, driven over a real socket. */
class ManagementServerSpec extends SparkSuite {

  private val client = HttpClient.newHttpClient()

  private def get(port: Int, path: String): (Int, String) = {
    val r = client.send(HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def send(port: Int, method: String, path: String): (Int, String) = {
    val r = client.send(HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:$port$path"))
      .method(method, HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def withServer(f: (Int, FileTopicIO, GraftEngine) => Unit): Unit = {
    val dir = tmpDir("mgmt")
    val topics = new FileTopicIO(s"$dir/topics")
    val engine = new GraftEngine(spark, EngineConfig(), topics, s"$dir/ckpt")
    val server = new ManagementServer(spark, engine, 0)
    server.start()
    try f(server.boundPort, topics, engine) finally server.stop()
  }

  test("GET /ping answers pong") {
    withServer { (port, _, _) =>
      assert(get(port, "/ping") == (200, "pong"))
    }
  }

  test("dead_set view / delete / replay endpoints drive DeadSet") {
    withServer { (port, topics, _) =>
      topics.append(envelopes("app", (0 until 3).map(i =>
        (s"k$i", s"v$i", ts(f"2024-01-01 00:00:0$i")))), "app_dead_letter")
      val (s1, b1) = get(port, "/v1/dead_set?entity=app&count=10")
      assert(s1 == 200 && b1.count(_ == '{') == 3)
      val (s2, b2) = send(port, "DELETE", "/v1/dead_set?entity=app&count=1")
      assert(s2 == 200 && b2 == """{"deleted":1}""")
      val (s3, b3) = send(port, "POST", "/v1/dead_set/replay?entity=app&count=5")
      assert(s3 == 200 && b3 == """{"replayed":2}""")
      assert(topics.read(spark, "app_instant").count() == 2)
      val (_, b4) = get(port, "/v1/dead_set?entity=app&count=10")
      assert(b4 == "[]")
    }
  }

  test("GET /v1/preflight serves recent skew-preflight audit lines — " +
      "including warn-mode lines for joins that PROCEEDED, which reach " +
      "only the driver log otherwise; fail-mode refusals carry aborted") {
    // no functions._ wildcard: it would shadow this suite's get() helper
    import org.apache.spark.sql.functions.{arrays_overlap, col}
    val sess = spark
    import sess.implicits._
    graft.plans.PreflightLog.clear()
    withServer { (port, _, _) =>
      val (s0, b0) = get(port, "/v1/preflight")
      assert(s0 == 200 && b0 == """{"audits":[]}""", b0)
      // element 1L in every row of both sides: 100% hot, diagnosis warns
      val left = (1L to 20L).map(i => (i, Seq(1L, i + 100))).toDF("lid", "la")
      val right = (1L to 20L).map(i => (i, Seq(1L, i + 900))).toDF("rid", "ra")
      spark.conf.set(graft.plans.ScaleGuards.PreflightKey, "warn")
      try {
        assert(left.join(right,
          arrays_overlap(col("la"), col("ra"))).count() >= 400L)
        val (s1, b1) = get(port, "/v1/preflight")
        assert(s1 == 200, b1)
        assert(b1.contains("overlap-join rewrite preflight:"), b1)
        assert(b1.contains("hot-element"), b1)
        assert(b1.contains("\"aborted\":false"), b1)
        // fail mode: the refusal is recorded with aborted=true
        spark.conf.set(graft.plans.ScaleGuards.PreflightKey, "fail")
        intercept[graft.plans.PreflightAbort] {
          left.join(right, arrays_overlap(col("la"), col("ra"))).count()
        }
        val (_, b2) = get(port, "/v1/preflight")
        assert(b2.contains("\"aborted\":true"), b2)
      } finally
        spark.conf.unset(graft.plans.ScaleGuards.PreflightKey)
    }
  }

  test("GET /v1/preflight carries structured fields beside the raw " +
      "line — rule/kind/diagnosis/worst/share_bp for a warn audit, and " +
      "a stand-down event with its disqualifier as the diagnosis — so " +
      "a dashboard alerting on diagnosis != ok never regexes the line") {
    import org.apache.spark.sql.functions.{arrays_overlap, col}
    import graft.functions.GraftFunctions.hamming64
    val sess = spark
    import sess.implicits._
    graft.plans.PreflightLog.clear()
    withServer { (port, _, _) =>
      // warn audit: element 1L in every row of both sides, 100% hot
      val left = (1L to 20L).map(i => (i, Seq(1L, i + 100))).toDF("lid", "la")
      val right = (1L to 20L).map(i => (i, Seq(1L, i + 900))).toDF("rid", "ra")
      spark.conf.set(graft.plans.ScaleGuards.PreflightKey, "warn")
      try assert(left.join(right,
        arrays_overlap(col("la"), col("ra"))).count() >= 400L)
      finally spark.conf.unset(graft.plans.ScaleGuards.PreflightKey)
      val (s1, b1) = get(port, "/v1/preflight")
      assert(s1 == 200, b1)
      assert(b1.contains(""""rule":"overlap-join""""), b1)
      assert(b1.contains(""""kind":"preflight""""), b1)
      assert(b1.contains(""""diagnosis":"hot-element"""), b1)
      assert(b1.contains(""""worst":"worst_element=1""""), b1)
      assert(b1.contains(""""share_bp":10000"""), b1)
      // stand-down: an effective radius past the hamming rewrite's
      // firing bound (k=17 — distinct from other suites' fixtures, so
      // the once-per-(session, rule, condition) dedup cannot have
      // already swallowed it)
      val hl = (1L to 5L).map(i => (i, i * 64L)).toDF("hlid", "hfp")
      val hr = (1L to 5L).map(i => (i, i * 64L)).toDF("hrid", "hfp2")
      assert(hl.join(hr,
        hamming64(col("hfp"), col("hfp2")) <= 17).count() >= 5L)
      val (s2, b2) = get(port, "/v1/preflight")
      assert(s2 == 200, b2)
      assert(b2.contains(""""kind":"stand-down""""), b2)
      assert(b2.contains(""""rule":"hamming-block""""), b2)
      assert(b2.contains("k=17 exceeds 15"), b2)
      // stand-downs have no audit row: worst empty, share null
      assert(b2.contains(""""share_bp":null"""), b2)
    }
  }

  test("an engine over a NON-LOCAL checkpoint root (hdfs://) leaves no " +
      "local 'hdfs:' debris in the working directory") {
    import graft.plans.PreflightLog
    val topics = new FileTopicIO(tmpDir("mgmt-hdfs"))
    val engine = new GraftEngine(spark, EngineConfig(), topics,
      "hdfs://namenode:8020/graft/ckpt")
    try {
      // no local debris from the URI's parts
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get("hdfs:")))
      // and a recorded audit must not create any either
      PreflightLog.record("test preflight: nonlocal", aborted = false,
        rule = "overlap-join", kind = "preflight", diagnosis = "ok")
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get("hdfs:")))
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get("hdfs:__namenode:8020")))
    } finally engine.stopAll()
  }

  test("GET /v1/preflight?session= filters to one tenant's audits; the " +
      "session token rides on every event (identity of the session " +
      "active when it fired)") {
    import org.apache.spark.sql.functions.{arrays_overlap, col}
    val sess = spark
    import sess.implicits._
    graft.plans.PreflightLog.clear()
    withServer { (port, _, _) =>
      val left = (1L to 20L).map(i => (i, Seq(7L, i + 100))).toDF("lid", "la")
      val right = (1L to 20L).map(i => (i, Seq(7L, i + 900))).toDF("rid", "ra")
      spark.conf.set(graft.plans.ScaleGuards.PreflightKey, "warn")
      try assert(left.join(right,
        arrays_overlap(col("la"), col("ra"))).count() >= 400L)
      finally spark.conf.unset(graft.plans.ScaleGuards.PreflightKey)
      val token = Integer.toHexString(System.identityHashCode(spark))
      val (s1, b1) = get(port, s"/v1/preflight?session=$token")
      assert(s1 == 200, b1)
      assert(b1.contains("worst_element=7"),
        s"this session's audit must pass its own filter: $b1")
      assert(b1.contains(s""""session":"$token""""), b1)
      // a foreign token filters everything of ours out
      val (s2, b2) = get(port, "/v1/preflight?session=nosuchsession")
      assert(s2 == 200 && !b2.contains("worst_element=7"), b2)
    }
  }

  test("POST /v1/queries/stop stops a named route (O2)") {
    withServer { (port, topics, engine) =>
      topics.append(envelopes("r1", Seq(("k", "v", ts("2024-01-01 00:00:00")))),
        "r1_origin")
      val route = StreamRouteConfig("r1", "r1_origin")
      engine.startStreamRoute(route, identity,
        Dispatch.ExprHandler(org.apache.spark.sql.functions.lit("success")),
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(60000))
      assert(engine.runningQueries.contains("r1"))
      val (s, b) = send(port, "POST", "/v1/queries/stop?name=r1")
      assert(s == 200 && b == """{"stopped":true}""")
      assert(!engine.runningQueries.contains("r1"))
      val (_, b2) = send(port, "POST", "/v1/queries/stop?name=nope")
      assert(b2 == """{"stopped":false}""")
    }
  }

  test("GET /metrics serves parseable Prometheus text exposition (O4)") {
    withServer { (port, _, engine) =>
      engine.metrics.increment("app.message.success", 5)
      engine.metrics.gauge("app.reads.delay_ms_avg", 12.5)
      val (s, b) = get(port, "/metrics")
      assert(s == 200)
      // parse the 0.0.4 text format: TYPE lines + `name value` samples
      val lines = b.split("\n").toSeq
      val types = lines.filter(_.startsWith("# TYPE")).map { l =>
        val Array(_, _, name, kind) = l.split(" "); name -> kind
      }.toMap
      val samples = lines.filterNot(_.startsWith("#")).filter(_.nonEmpty)
        .map { l => val Array(n, v) = l.split(" ", 2); n -> v.toDouble }.toMap
      assert(types("graft_app_message_success_total") == "counter")
      assert(samples("graft_app_message_success_total") == 5.0)
      assert(types("graft_app_reads_delay_ms_avg") == "gauge")
      assert(samples("graft_app_reads_delay_ms_avg") == 12.5)
      // every sample has a TYPE line and a valid metric name
      assert(samples.keys.forall(types.contains))
      assert(samples.keys.forall(_.matches("[a-zA-Z_:][a-zA-Z0-9_:]*")))
      // raw keys that sanitize to the same metric name aggregate into ONE
      // TYPE + sample line (duplicates make Prometheus reject the scrape)
      engine.metrics.increment("app.col-a", 2)
      engine.metrics.increment("app.col_a", 3)
      val lines2 = get(port, "/metrics")._2.split("\n").toSeq
      assert(lines2.count(_.startsWith("# TYPE graft_app_col_a_total ")) == 1)
      assert(lines2.contains("graft_app_col_a_total 5"))
      val names2 = lines2.filterNot(_.startsWith("#")).filter(_.nonEmpty)
        .map(_.split(" ")(0))
      assert(names2.distinct.size == names2.size, "duplicate sample names")
    }
  }

  test("user actor-routes mount next to the built-ins (server/routes.clj:18-23)") {
    val dir = tmpDir("mgmtuser")
    val topics = new FileTopicIO(s"$dir/topics")
    val engine = new GraftEngine(spark, EngineConfig(), topics, s"$dir/ckpt")
    val routes = Seq(UserRoute("/custom/echo", (method, params, body) =>
      (200, s"""{"method":"$method","who":"${params.getOrElse("who", "?")}"}""")))
    val server = new ManagementServer(spark, engine, 0, routes)
    server.start()
    try {
      val port = server.boundPort
      val (s, b) = get(port, "/custom/echo?who=me")
      assert(s == 200 && b == """{"method":"GET","who":"me"}""")
      assert(get(port, "/ping") == (200, "pong")) // built-ins still serve
    } finally server.stop()
  }

  test("POST /v1/queries/scale restarts a route from its checkpoint with a " +
      "new per-trigger budget (O3 add/remove-threads analogue)") {
    withServer { (port, topics, engine) =>
      import org.apache.spark.sql.functions.lit
      // seed 3 separate appends → ≥3 files; after scaling to 1 file/trigger
      // the remaining records still process exactly once from the checkpoint
      val t0 = new java.sql.Timestamp(System.currentTimeMillis)
      (1 to 3).foreach(i =>
        topics.append(envelopes("sc", Seq((s"k$i", s"v$i", t0))), "sc_origin"))
      val route = StreamRouteConfig("sc", "sc_origin")
      engine.startStreamRoute(route, identity,
        Dispatch.ExprHandler(lit("success")),
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      engine.runningQueries("sc").awaitTermination()
      assert(engine.metrics.count("sc.message.success") == 3)

      // new data lands, then the route is rescaled: the restarted query
      // resumes from the checkpoint and processes it exactly once
      topics.append(envelopes("sc", Seq(("k4", "v4", t0))), "sc_origin")
      val (s, b) = send(port, "POST",
        "/v1/queries/scale?name=sc&max_per_trigger=1")
      assert(s == 200 && b == """{"scaled":true}""", s"got $s $b")
      assert(engine.metrics.count("sc.query.rescaled") == 1)
      val deadline = System.currentTimeMillis + 30000
      while (engine.metrics.count("sc.message.success") < 4
          && System.currentTimeMillis < deadline) Thread.sleep(200)
      assert(engine.metrics.count("sc.message.success") == 4)
      val (_, b2) = send(port, "POST",
        "/v1/queries/scale?name=nope&max_per_trigger=5")
      assert(b2 == """{"scaled":false}""")
      engine.stopAll()
    }
  }

  test("missing entity is a 400; metrics endpoint serves a snapshot") {
    withServer { (port, _, engine) =>
      assert(get(port, "/v1/dead_set")._1 == 400)
      engine.metrics.increment("app.message.success", 5)
      val (s, b) = get(port, "/v1/metrics")
      assert(s == 200 && b.contains(""""app.message.success":5.0"""))
      assert(get(port, "/v1/queries")._1 == 200)
    }
  }

  test("ANN index-store lifecycle over /v1/ann: GET describes a " +
      "published index (versions, pointer, lease counts), POST compact " +
      "collapses the delta chain, POST vacuum runs with the standard " +
      "400 mapping — the store gets the same operability as the " +
      "engine's other durable artifacts (resource/dead_set.clj:46-94)") {
    import graft.operators.AnnIndex
    withServer { (port, _, _) =>
      val sess = spark
      import sess.implicits._
      val idxDir = s"${tmpDir("mgmtann")}/ivf"
      // client errors first: missing dir param is a 400 on all three
      assert(get(port, "/v1/ann")._1 == 400)
      assert(send(port, "POST", "/v1/ann/compact")._1 == 400)
      assert(send(port, "POST", "/v1/ann/vacuum")._1 == 400)
      // a dir this engine's AnnIndex API never touched is refused 404
      // WITHOUT touching disk — the management port must not be a
      // remote describe/compact/VACUUM primitive over arbitrary driver
      // filesystem paths a network client names (vacuum deletes dirs),
      // nor an existence oracle for them
      val (s0, b0) = get(port, "/v1/ann?dir=/no/such/index")
      assert(s0 == 404 && b0.contains("unknown ANN index dir"),
        s"$s0 $b0")
      assert(send(port, "POST",
        "/v1/ann/compact?dir=/no/such/index")._1 == 404)
      assert(send(port, "POST",
        "/v1/ann/vacuum?dir=/no/such/index&keep=0")._1 == 404)
      // ... and the dir of THIS test is unknown too until the engine
      // itself operates on it below
      assert(get(port, s"/v1/ann?dir=$idxDir")._1 == 404)
      // publish a full version + one delta: a 2-root chain
      val cents = (1 to 4).map(i =>
        (i.toLong, Seq(i.toDouble, 1.0), 1.0)).toDF("cent_id", "cv", "cn")
      val posts = (1 to 8).map(i => (i.toLong + 100,
        Seq(i.toDouble, 2.0), 2.0, (i % 4 + 1).toLong))
        .toDF("vec_id", "vd", "nrm", "cell")
      AnnIndex.publish(cents, posts, idxDir, k = 4)
      val d1 = Seq((501L, Seq(1.0, 3.0), 3.0, 1L))
        .toDF("vec_id", "vd", "nrm", "cell")
      AnnIndex.publishDelta(d1, idxDir)
      val h = AnnIndex.load(spark, idxDir) // drops one fresh lease
      val (s1, b1) = get(port, s"/v1/ann?dir=$idxDir")
      assert(s1 == 200, s"$s1 $b1")
      assert(b1.contains(""""current":"v2""""), b1)
      assert(b1.contains(""""name":"v1","committed":true,"k":4,""" +
        """"centroids":4,"postings":8,"chain":1"""), b1)
      assert(b1.contains(""""name":"v2","committed":true,"k":4,""" +
        """"centroids":4,"postings":9,"chain":2"""), b1)
      assert(b1.contains(""""fresh_leases":1"""), b1)
      h.release()
      // compact: the chain collapses to one self-contained version
      val (s2, b2) = send(port, "POST", s"/v1/ann/compact?dir=$idxDir")
      assert(s2 == 200 && b2 == """{"compacted":"v3"}""", s"$s2 $b2")
      val (_, b3) = get(port, s"/v1/ann?dir=$idxDir")
      assert(b3.contains(""""current":"v3"""") && b3.contains(
        """"name":"v3","committed":true,"k":4,"centroids":4,""" +
          """"postings":9,"chain":1"""), b3)
      assert(b3.contains(""""fresh_leases":0"""),
        s"compact must release its internal lease; $b3")
      // vacuum runs (fresh dirs survive the age gate — reclaim
      // semantics are AnnIndexSpec's); negative keep is a 400
      val (s4, b4) = send(port, "POST",
        s"/v1/ann/vacuum?dir=$idxDir&keep=1")
      assert(s4 == 200 && b4.startsWith("""{"ok":true,"versions":["""),
        s"$s4 $b4")
      assert(b4.contains("\"v3\""), b4)
      val (s5, b5) = send(port, "POST",
        s"/v1/ann/vacuum?dir=$idxDir&keep=-1")
      assert(s5 == 400 && b5.contains("keep must be >= 0"), s"$s5 $b5")
      // wrong methods are 405s
      assert(send(port, "POST", s"/v1/ann?dir=$idxDir")._1 == 405)
      assert(get(port, s"/v1/ann/compact?dir=$idxDir")._1 == 405)
    }
  }

  test("negative dead-set count is a 400 client error, not a 500 from " +
      "DataFrame.limit(-1)'s AnalysisException") {
    withServer { (port, _, _) =>
      val (s1, b1) = get(port, "/v1/dead_set?entity=app&count=-1")
      assert(s1 == 400 && b1.contains("count must be >= 0"), s"$s1 $b1")
      val (s2, b2) =
        send(port, "POST", "/v1/dead_set/replay?entity=app&count=-2")
      assert(s2 == 400 && b2.contains("count must be >= 0"), s"$s2 $b2")
    }
  }

  test("a non-finite gauge renders as JSON null in /v1/metrics instead of " +
      "poisoning the whole snapshot (NaN is not a JSON token), and the " +
      "Prometheus exposition spells infinities +Inf/-Inf, not 'Infinity'") {
    withServer { (port, _, engine) =>
      engine.metrics.gauge("bad.ratio", Double.NaN)
      engine.metrics.gauge("worse.lag", Double.PositiveInfinity)
      engine.metrics.gauge("ok.rows", 2.5)
      val (s, b) = get(port, "/v1/metrics")
      assert(s == 200, b)
      assert(b.contains(""""bad.ratio":null"""), b)
      assert(b.contains(""""worse.lag":null"""), b)
      assert(b.contains(""""ok.rows":2.5"""), b)
      assert(!b.contains("NaN") && !b.contains("Infinity"), b)
      val (sp, bp) = get(port, "/metrics")
      assert(sp == 200, bp)
      assert(bp.contains("graft_worse_lag +Inf"), bp)
      assert(!bp.contains("Infinity"), bp)
    }
  }

  test("/ping stays responsive while a slow handler holds another " +
      "dispatch thread: with the old serial executor a long dead-set " +
      "collect starved liveness probes and the orchestrator restarted a " +
      "healthy driver") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val dir = tmpDir("mgmtslow")
    val topics = new FileTopicIO(s"$dir/topics")
    val engine = new GraftEngine(spark, EngineConfig(), topics, s"$dir/ckpt")
    val gate = new CountDownLatch(1)
    val entered = new CountDownLatch(1)
    val routes = Seq(UserRoute("/custom/slow", (_, _, _) => {
      entered.countDown()
      gate.await(30, TimeUnit.SECONDS)
      (200, "{}")
    }))
    val server = new ManagementServer(spark, engine, 0, routes)
    server.start()
    try {
      val port = server.boundPort
      val slow = client.sendAsync(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/custom/slow")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(entered.await(10, TimeUnit.SECONDS), "slow handler not entered")
      // the discriminating probe: on the serial executor this blocks
      // behind /custom/slow until the gate opens
      assert(get(port, "/ping") == (200, "pong"))
      gate.countDown()
      assert(slow.get(10, TimeUnit.SECONDS).statusCode() == 200)
    } finally { server.stop(); engine.stopAll() }
  }
}
