package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

/** Everything an engine registers — its listener on the session, its JVM
  * shutdown hook — ends at `stopAll()`, and its metrics registry records
  * only the engine's own queries. Each case runs on a fresh child session:
  * listeners are per session, so sibling suites' engines cannot race the
  * counts. */
class EngineLifecycleSpec extends SparkSuite {

  private val ok = Dispatch.ExprHandler(lit("success"))

  private def route(entity: String) =
    StreamRouteConfig(entity, s"${entity}_origin")

  private def engine(sess: SparkSession, root: String,
      entity: String): GraftEngine =
    new GraftEngine(sess, EngineConfig(streamRoutes =
      Map(entity -> route(entity))),
      new FileTopicIO(s"$root/topics"), s"$root/ckpt")

  /** Seeds one record on `entity`'s origin topic under `root`. */
  private def seed(root: String, entity: String): Unit =
    new FileTopicIO(s"$root/topics").append(envelopes(entity, Seq(("k", "v",
      new java.sql.Timestamp(System.currentTimeMillis)))), s"${entity}_origin")

  /** Polls `cond` for up to 30 s: listener events arrive asynchronously. */
  private def await(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis + 30000
    while (!cond && System.currentTimeMillis < deadline) Thread.sleep(100)
    cond
  }

  /** Starts `entity`'s stream route on `e` with a running trigger and
    * waits until it has processed its seeded record. */
  private def live(e: GraftEngine, root: String, entity: String): Unit = {
    seed(root, entity)
    e.startStreamRoute(route(entity), identity, ok,
      Trigger.ProcessingTime(100)).processAllAvailable()
  }

  test("starting and stopping three engines with live routes returns " +
      "the session's listener count to its baseline") {
    val sess = spark.newSession()
    val baseline = sess.streams.listListeners().length
    for (i <- 1 to 3) {
      val root = tmpDir(s"lifecycle$i")
      val e = engine(sess, root, s"l$i")
      live(e, root, s"l$i")
      e.stopAll()
    }
    assert(sess.streams.listListeners().length == baseline)
  }

  test("a live engine's registry holds no key from another engine's " +
      "route or from a plain query on the same session") {
    val sess = spark.newSession()
    val (rootA, rootB) = (tmpDir("scopeA"), tmpDir("scopeB"))
    val b = engine(sess, rootB, "sb")
    live(b, rootB, "sb")
    assert(await(b.metrics.snapshot().contains("route-sb.trigger")),
      "the engine must harvest its own route's progress")
    // listeners see each event in registration order: once this probe
    // has seen both foreign terminations, b's listener has handled every
    // event of both foreign queries
    val terminated = ConcurrentHashMap.newKeySet[java.util.UUID]()
    val probe = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        terminated.add(e.id)
    }
    sess.streams.addListener(probe)
    val a = engine(sess, rootA, "sa")
    try {
      seed(rootA, "sa")
      val qa = a.startStreamRoute(route("sa"), identity, ok,
        Trigger.AvailableNow())
      qa.awaitTermination()
      val plainName = s"plain_${System.nanoTime()}"
      val plain = new FileTopicIO(s"$rootA/topics")
        .readStream(sess, "sa_origin").writeStream.format("noop")
        .queryName(plainName).trigger(Trigger.AvailableNow()).start()
      plain.awaitTermination()
      assert(await(terminated.contains(qa.id) &&
        terminated.contains(plain.id)))
      assert(a.metrics.count("sa.message.success") == 1)
      val foreign = b.metrics.snapshot().keys.filter(k =>
        k.startsWith("route-sa") || k.startsWith("sa.") ||
          k.startsWith(plainName) || k == "query.terminated")
      assert(foreign.isEmpty, s"engine b recorded foreign keys: $foreign")
    } finally {
      sess.streams.removeListener(probe)
      a.stopAll()
      b.stopAll()
    }
  }

  test("stopAll() deregisters the engine's shutdown hook, and a second " +
      "stopAll() is a no-op") {
    val sess = spark.newSession()
    val baseline = sess.streams.listListeners().length
    val root = tmpDir("hook")
    val e = engine(sess, root, "h")
    e.stopAll()
    assert(!Runtime.getRuntime.removeShutdownHook(e.shutdownHook),
      "the stopped engine's shutdown hook is still registered")
    e.stopAll()
    assert(sess.streams.listListeners().length == baseline)
  }

  test("a stopped engine's deleted checkpoint root stays absent, and a " +
      "later engine writes no preflight file beside its own") {
    val sess = spark.newSession()
    val (root1, root2) = (tmpDir("gone1"), tmpDir("gone2"))
    val e1 = engine(sess, root1, "g1")
    live(e1, root1, "g1")
    e1.stopAll()
    graft.TempDirs.deleteRecursively(Paths.get(s"$root1/ckpt"))
    def audit(): Unit = graft.plans.PreflightLog.record(
      "test preflight: after stop", aborted = false, rule = "overlap-join",
      kind = "preflight", diagnosis = "ok")
    audit()
    val e2 = engine(sess, root2, "g2")
    try {
      live(e2, root2, "g2")
      audit()
    } finally e2.stopAll()
    assert(!Files.exists(Paths.get(s"$root1/ckpt")),
      "the stopped engine's deleted root was re-created")
    val walk = Files.walk(Paths.get(root2))
    val preflightFiles = try walk.toArray.toSeq.map(_.toString)
      .filter(_.contains("preflight")) finally walk.close()
    assert(preflightFiles.isEmpty, s"preflight files: $preflightFiles")
  }
}
