package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.GraftSession
import graft.streaming._

/** JVM half of the benchmark: drives the engine through its public entry
  * points only, times calls from outside and, with `trace=1`, records
  * Spark's public listener events. Writes one raw JSON file; perfbench/run.py
  * turns it into metrics and checks the outputs.
  *
  * Usage: Main key=value ... with keys workload, seconds, trace, run
  * (run directory), setups, plus workload parameters (see run.py).
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap
    val run = new Run(args)
    val out = try run.execute() catch {
      case e: Throwable =>
        e.printStackTrace()
        Map("error" -> s"${e.getClass.getName}: ${e.getMessage}")
    }
    Files.writeString(Paths.get(args("run"), "raw.json"), Json(out))
    run.shutdown()
    // engines register shutdown hooks that expect a live session; the
    // session is already stopped, so leave without running them
    Runtime.getRuntime.halt(0)
  }
}

final class Run(args: Map[String, String]) {
  val workload: String = args("workload")
  val seconds: Double = args("seconds").toDouble
  val traced: Boolean = args("trace") == "1"
  val runDir: String = args("run")
  /** Set-ups per run; `setup_s` is their median. */
  val setupRounds: Int = args("setups").toInt
  val rec: Option[Recorder] = if (traced) Some(new Recorder) else None
  private var spark: SparkSession = _
  private var engines = List.empty[GraftEngine]

  /** Envelope payload → typed `message`; corrupt JSON → null message. */
  val payload: StructType = new StructType().add("id", LongType).add("d", StringType)
  val json: DataFrame => DataFrame = Middleware.json(payload)
  /** The disposition rides in the payload; corrupt payloads dead-letter. */
  val handler = Dispatch.ExprHandler(
    when(col("message").isNull, lit(Envelope.Code.DeadLetter))
      .otherwise(col("message.d")))
  val channels = Map("audit" -> ChannelConfig("audit"))

  def route(entity: String, origin: String, retry: RetryConfig) =
    StreamRouteConfig(entity, origin, retry = retry, channels = channels)

  def topics(root: String): TopicIO = {
    val file = new FileTopicIO(root)
    rec.fold[TopicIO](file)(r => new TimedTopicIO(file, r))
  }

  def newEngine(name: String): GraftEngine = {
    val e = new GraftEngine(spark, EngineConfig(), topics(s"$runDir/topics"),
      s"$runDir/ckpt/$name")
    engines ::= e
    e
  }

  /** One set-up: a fresh session plus the workload's preparation, which
    * returns figures of its own (route start costs, for instance). */
  private def setUp(prepare: () => Map[String, Any]): Map[String, Any] = {
    if (spark != null) { stopEngines(); spark.stop() }
    val t0 = Clock.ms()
    spark = GraftSession.build(appName = "perfbench")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    rec.foreach(_.install(spark))
    val t1 = Clock.ms()
    val parts = prepare()
    val t2 = Clock.ms()
    parts ++ Map("setup_s" -> (t2 - t0) / 1e3, "session_s" -> (t1 - t0) / 1e3)
  }

  private def setUps(prepare: () => Map[String, Any]): Seq[Map[String, Any]] =
    (1 to setupRounds).map(_ => setUp(prepare))

  private def stopEngines(): Unit = {
    engines.foreach(e => try e.stopAll() catch { case _: Throwable => () })
    engines = Nil
  }

  def shutdown(): Unit = if (spark != null) {
    stopEngines()
    spark.stop()
  }

  def execute(): Map[String, Any] = {
    val facts = Map(
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "cores" -> Runtime.getRuntime.availableProcessors)
    val body = workload match {
      case "route_drain" => routeDrain()
      case "route_paced" => routePaced()
      case "query_mix" => queryMix()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    facts ++ body ++ rec.map(r => "trace" -> r.dump())
  }

  // ------------------------------------------------------------ routes

  /** Drain one route with AvailableNow; returns wall times in ms of
    * (startStreamRoute call, whole run) and the query's progress. */
  private def drain(e: GraftEngine, r: StreamRouteConfig,
      mw: DataFrame => DataFrame): (Double, Double, StreamingQuery) = {
    val t0 = Clock.ms()
    val q = e.startStreamRoute(r, mw, handler, Trigger.AvailableNow())
    val t1 = Clock.ms()
    q.awaitTermination()
    (t1 - t0, Clock.ms() - t0, q)
  }

  private def progress(q: StreamingQuery): Seq[Json.Raw] =
    q.recentProgress.toSeq.map(p => Json.Raw(p.json))

  private def counters(e: GraftEngine, entity: String): Map[String, Double] =
    e.metrics.snapshot().filter(_._1.startsWith(s"$entity.message."))

  private val drainRetry = RetryConfig(enabled = true, count = 2)

  private var warmUps = 0

  /** Set-up's preparation for the routes: a fresh engine whose first route
    * drains the small warm-up backlog — which is also what (re)starting a
    * route costs, so its figures are kept. */
  private def warmUp(mw: DataFrame => DataFrame)(): Map[String, Any] = {
    warmUps += 1
    val entity = s"w$warmUps"
    val t0 = Clock.ms()
    val e = newEngine(entity)
    val ctor = Clock.ms() - t0
    val (startMs, wall, q) = drain(e, route(entity, "warm", drainRetry), mw)
    Map("engine_ctor_ms" -> ctor, "route_start_ms" -> startMs,
      "route_wall_ms" -> (ctor + wall), "progress" -> progress(q),
      "entity" -> entity, "counters" -> counters(e, entity))
  }

  /** One closed-loop repetition: a fresh route `d<k>` drains the whole
    * backlog topic with one AvailableNow run. */
  private def drainBacklog(e: GraftEngine, k: Int): Map[String, Any] = {
    val (startMs, wall, q) = drain(e, route(s"d$k", "backlog", drainRetry), json)
    Map("k" -> k, "route_start_ms" -> startMs, "drain_wall_ms" -> wall,
      "progress" -> progress(q), "counters" -> counters(e, s"d$k"))
  }

  /** Closed loop: the warm engine drains the big backlog once per
    * repetition, for `seconds`. */
  def routeDrain(): Map[String, Any] = {
    val setups = setUps(warmUp(json))
    val e = engines.head
    val reps = Seq.newBuilder[Map[String, Any]]
    val deadline = Clock.ms() + seconds * 1e3
    var k = 0
    var last = 0.0
    // a new drain starts only if it would mostly fit in the window
    while (k == 0 || Clock.ms() + last / 2 < deadline) {
      val rep = drainBacklog(e, k)
      reps += rep
      last = rep("drain_wall_ms").asInstanceOf[Double]
      k += 1
    }
    Map("setups" -> setups, "reps" -> reps.result())
  }

  def routePaced(): Map[String, Any] = {
    val dedup: DataFrame => DataFrame =
      df => Pipeline.dedupWithinWatermark(Seq("key"))(json(df))
    val setups = setUps(warmUp(dedup))
    val retry = RetryConfig(enabled = true, count = 2,
      backoffType = BackoffType.Linear, queueTimeoutMs = args("backoff_ms").toLong)
    val r = route("p", "paced", retry)
    val e = engines.head
    val q = e.startStreamRoute(r, dedup, handler, Trigger.ProcessingTime(0))
    // the dedup stage is stream-only; retried rows arrive as a batch frame
    val rq = e.startRetryReader(r, json, handler,
      Trigger.ProcessingTime(args("retry_trigger_ms").toLong))
    // the generator is its own process; it starts its schedule once it
    // is ready, so its first tick is not late
    val gen = new ProcessBuilder(args("python"), args("gen"), "paced",
      "--seed", args("seed"), "--out", s"$runDir/topics/paced",
      "--truth", s"$runDir/paced_truth.json", "--topic", "paced",
      "--rate", args("rate"), "--rows-per-file", args("rows_per_file"),
      "--dup-share", args("dup_share"), "--seconds", seconds.toString,
      "--warm-seconds", args("warm_seconds"))
      .inheritIO().start()
    val genExit = gen.waitFor()
    // settle: every event read, every retry hop taken and dead-lettered
    val truth = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Paths.get(s"$runDir/paced_truth.json").toFile)
    def n(d: String) = truth.get("by").path(d).size.toLong
    def c(m: String) = e.metrics.count(s"p.message.$m")
    val by = Clock.ms() + 60e3
    while (Clock.ms() < by &&
        (q.recentProgress.map(_.numInputRows).sum < truth.get("events").asLong
          || c("retry") < 2 * n("retry")
          || c("dead_letter") < n("dead_letter") + n("corrupt") + n("retry")))
      Thread.sleep(20)
    val settled = Clock.ms() < by
    // a few more triggers of each query, so extra late writes would show
    Thread.sleep(2 * args("retry_trigger_ms").toLong + 200)
    e.stopAll()
    val paced = Map("generator_exit" -> genExit, "settled" -> settled,
      "route_progress" -> progress(q), "retry_progress" -> progress(rq),
      "counters" -> counters(e, "p"))
    // closed-loop segment on a fresh engine, nothing else running: what the
    // route's layers get through when input is waiting (the open loop only
    // shows that while the route falls behind)
    val d = newEngine("drain")
    val reps = (0 until args("drains").toInt).map(drainBacklog(d, _))
    paced ++ Map("setups" -> setups, "reps" -> reps)
  }

  // ------------------------------------------------------------- queries

  /** Closed loop, one query at a time: each execution is build + collect()
    * with the cache cleared first. The first pass also writes each collected
    * result (outside the timed region) in the layout graft.Verify dumps, for
    * tools/oracle_check.py. */
  def queryMix(): Map[String, Any] = {
    val data = args("data")
    val names = args("queries").split(",").toSeq
    val builders = graft.SparkEntry.queries
    val setups = setUps { () =>
      builders(names.head)(spark, data).collect()
      Map.empty
    }
    val results = s"$runDir/results"
    Files.createDirectories(Paths.get(results))
    Files.writeString(Paths.get(results, "oracle_sql.json"),
      Json(names.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap))
    val sc = spark.sparkContext
    val execs = Seq.newBuilder[Map[String, Any]]
    val deadline = Clock.ms() + seconds * 1e3
    var pass = 0
    while (pass == 0 || Clock.ms() < deadline) {
      names.foreach { n =>
        spark.catalog.clearCache()
        val id = s"$n#$pass"
        rec.foreach { r =>
          sc.setLocalProperty(r.TraceKey, id)
          sc.setLocalProperty(r.PhaseKey, "build")
        }
        val t0 = Clock.ms()
        val row = try {
          val df = builders(n)(spark, data)
          val t1 = Clock.ms()
          rec.foreach(r => sc.setLocalProperty(r.PhaseKey, "execute"))
          val qe = df.queryExecution
          val rows = df.collect()
          val t2 = Clock.ms()
          rec.foreach(r => sc.setLocalProperty(r.TraceKey, null))
          val phases = qe.tracker.phases
          val catalyst = Seq("analysis", "optimization", "planning")
            .flatMap(phases.get).map(_.durationMs.toDouble).sum
          rec.foreach { r =>
            r.span(id, "query", n, t0, t2)
            r.span(id, "operators", "build", t0, t1)
            r.span(id, "plans", "execute", t1, t2)
          }
          if (pass == 0)
            spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
              .coalesce(1).write.mode("overwrite").parquet(s"$results/$n")
          Map("rows" -> rows.length, "build_ms" -> (t1 - t0),
            "exec_ms" -> (t2 - t1), "wall_ms" -> (t2 - t0),
            "catalyst_ms" -> catalyst)
        } catch {
          case t: Throwable => Map("error" -> s"${t.getClass.getName}: ${t.getMessage}")
        }
        execs += Map("query" -> n, "pass" -> pass, "trace" -> id,
          "start_ms" -> t0) ++ row
      }
      pass += 1
    }
    rec.foreach(r => { sc.setLocalProperty(r.TraceKey, null); sc.setLocalProperty(r.PhaseKey, null) })
    Map("setups" -> setups, "execs" -> execs.result())
  }
}
