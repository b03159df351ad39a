package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The names a running engine leaves on disk are restart state: a query
  * resumes from `<checkpointDir>/<subdir>` only if the next start uses the
  * same subdir, and a replayed micro-batch is a no-op only if it writes
  * the same `_applied-<token>` marker. Every start method is pinned here:
  * its Spark query name, its checkpoint subdir (whose `metadata` file
  * holds the query id), the track name `stopRoute` knows it by, and the
  * markers its first micro-batch writes. */
class DurableNamesSpec extends SparkSuite {

  private def now = new java.sql.Timestamp(System.currentTimeMillis)
  private val retryAll = Dispatch.ExprHandler(lit(Envelope.Code.Retry))
  private def linear(count: Int) = RetryConfig(enabled = true, count = count,
    backoffType = BackoffType.Linear, queueTimeoutMs = 0L)

  private val route = StreamRouteConfig("app", "app_origin",
    retry = linear(3),
    channels = Map("geo" -> ChannelConfig("geo", workerCount = 1,
      retry = linear(2))))
  private val batchRoute = BatchRouteConfig("b", "b_origin", retry = linear(3))

  private final class Fixture {
    val dir: String = tmpDir("durable-names")
    val topics = new FileTopicIO(s"$dir/topics")
    val engine = new GraftEngine(spark, EngineConfig(
      streamRoutes = Map("app" -> route),
      batchRoutes = Map("b" -> batchRoute)), topics, s"$dir/ckpt")

    def markers(topic: String): Set[String] = {
      val d = Paths.get(dir, "topics", topic)
      if (!Files.isDirectory(d)) Set.empty
      else Files.list(d).iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("_applied-")).toSet
    }

    /** Spark query name, checkpoint subdir (its `metadata` names this
      * query's id) and track name. */
    def assertNames(q: StreamingQuery, queryName: String, subdir: String,
        track: String): Unit = {
      assert(q.name == queryName)
      val meta = Paths.get(dir, "ckpt", subdir, "metadata")
      assert(Files.exists(meta), s"no checkpoint at $meta")
      assert(new String(Files.readAllBytes(meta), "UTF-8")
        .contains(q.id.toString), s"$meta does not name ${q.id}")
      assert(engine.stopRoute(track), s"no tracked query '$track'")
    }
  }

  private def withFixture(body: Fixture => Unit): Unit = {
    val f = new Fixture
    try body(f) finally f.engine.stopAll()
  }

  /** One envelope on `entity`'s retry cycle: `retryCount` 2, stamped
    * `dueInMs` from now. */
  private def parked(entity: String, key: String, dueInMs: Long): DataFrame =
    envelopes(entity, Seq((key, "v", now)))
      .withColumn("retryCount", lit(2))
      .withColumn("nextAttemptAt",
        lit(new java.sql.Timestamp(System.currentTimeMillis + dueInMs)))

  test("stream route: route-<e> over checkpoint <e>") {
    withFixture { f =>
      f.topics.append(envelopes("app", Seq(("k", "v", now))), "app_origin")
      val q = f.engine.startStreamRoute(route, identity, retryAll)
      q.awaitTermination()
      f.assertNames(q, "route-app", "app", track = "app")
      assert(f.markers("app_retry") == Set("_applied-route-app-0"))
    }
  }

  test("view route: view-<e> over checkpoint view-<e>") {
    withFixture { f =>
      val sink = new UpsertSink(spark, s"${f.dir}/state", "k", "ord",
        queryId = "view-app")
      f.topics.append(envelopes("app", Seq(("k", "v", now))), "app_origin")
      val q = f.engine.startViewRoute(route, identity, sink,
        df => df.select(col("key").cast("string").as("k"),
          col("offset").as("ord")))
      q.awaitTermination()
      f.assertNames(q, "view-app", "view-app", track = "view-app")
      assert(f.engine.metrics.count("view-app.commits") == 1)
    }
  }

  test("due-filter retry reader: retry-<e>, requeue token <query>-<id>-requeue") {
    withFixture { f =>
      f.topics.append(parked("app", "due", -60000L)
        .unionByName(parked("app", "later", 3600000L)), "app_retry")
      val q = f.engine.startRetryReader(route, identity, retryAll)
      q.awaitTermination()
      f.assertNames(q, "retry-app", "retry-app", track = "retry-app")
      assert(f.markers("app_retry") ==
        Set("_applied-retry-app-0", "_applied-retry-app-0-requeue"))
    }
  }

  test("channel worker and channel retry reader: channel-<e>-<ch>, " +
      "retry-<e>_channel_<ch>") {
    withFixture { f =>
      f.topics.append(envelopes("app", Seq(("k", "v", now))), "app_channel_geo")
      val w = f.engine.startChannelWorker(route, "geo", identity, retryAll)
      w.awaitTermination()
      f.assertNames(w, "channel-app-geo", "channel-app-geo",
        track = "channel-app-geo")
      assert(f.markers("app_channel_geo_retry") ==
        Set("_applied-channel-app-geo-0"))
      val r = f.engine.startChannelRetryReader(route, "geo", identity,
        retryAll)
      r.awaitTermination()
      f.assertNames(r, "retry-app_channel_geo", "retry-app_channel_geo",
        track = "retry-app_channel_geo")
      assert(f.markers("app_channel_geo_retry") == Set(
        "_applied-channel-app-geo-0", "_applied-retry-app_channel_geo-0"))
    }
  }

  test("instant worker: instant-<e> over checkpoint instant-<e>") {
    withFixture { f =>
      f.topics.append(envelopes("app", Seq(("k", "v", now))), "app_instant")
      val q = f.engine.startInstantWorker(route, identity, retryAll)
      q.awaitTermination()
      f.assertNames(q, "instant-app", "instant-app", track = "instant-app")
      assert(f.markers("app_retry") == Set("_applied-instant-app-0"))
    }
  }

  test("batch route, batch retry reader and batch instant worker: " +
      "batch-<e>, retry-batch-<e>, instant-batch-<e>") {
    withFixture { f =>
      f.topics.append(envelopes("b", Seq(("k", "v", now))), "b_origin")
      val q = f.engine.startBatchRoute(batchRoute, identity, retryAll)
      q.awaitTermination()
      f.assertNames(q, "batch-b", "batch-b", track = "batch-b")
      assert(f.markers("b_retry") == Set("_applied-batch-b-0"))

      f.topics.append(parked("b", "later", 3600000L), "b_retry")
      val r = f.engine.startBatchRetryReader(batchRoute, identity, retryAll)
      r.awaitTermination()
      f.assertNames(r, "retry-batch-b", "retry-batch-b",
        track = "retry-batch-b")
      assert(f.markers("b_retry") == Set("_applied-batch-b-0",
        "_applied-retry-batch-b-0", "_applied-retry-batch-b-0-requeue"))

      f.topics.append(envelopes("b", Seq(("k", "v", now))), "b_instant")
      val i = f.engine.startBatchInstantWorker(batchRoute, identity, retryAll)
      i.awaitTermination()
      f.assertNames(i, "instant-batch-b", "instant-batch-b",
        track = "instant-batch-b")
      assert(f.markers("b_retry") == Set("_applied-batch-b-0",
        "_applied-retry-batch-b-0", "_applied-retry-batch-b-0-requeue",
        "_applied-instant-batch-b-0"))
    }
  }

  test("stream-join route: joinroute-<e> over checkpoint join-<e>") {
    withFixture { f =>
      val at = now
      f.topics.append(envelopes("l", Seq(("k", "left", at))), "app_left")
      f.topics.append(envelopes("r", Seq(("k", "right", at))), "app_right")
      val q = f.engine.startStreamJoinRoute(route,
        Seq("app_left", "app_right"), Seq((60000L, "inner")),
        key = "key", tsCol = "timestamp",
        middleware = _.select("left_value.*"), handler = retryAll)
      q.awaitTermination()
      f.assertNames(q, "joinroute-app", "join-app", track = "joinroute-app")
      assert(f.markers("app_retry") == Set("_applied-joinroute-app-0"))
    }
  }

  test("analytics route: analytics-<name> over checkpoint analytics-<name>") {
    withFixture { f =>
      f.topics.append(envelopes("m", Seq(("k", "v", now))), "m_origin")
      val q = f.engine.startAnalyticsRoute("m", "m_origin", "m_out",
        _.groupBy(col("key").cast("string").as("k")).count(),
        keyCol = Some("k"), trigger = Trigger.AvailableNow())
      q.awaitTermination()
      f.assertNames(q, "analytics-m", "analytics-m", track = "analytics-m")
      assert(f.markers("m_out") == Set("_applied-analytics-m-0"))
    }
  }
}
