package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs the headline queries on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line. Each query is fully executed
  * (count() materializes every row through the final stage).
  *
  * Also measures full-route streaming throughput (events/sec through
  * source → too-old filter → metadata → JSON middleware → handler dispatch
  * incl. retry/DLQ sink writes) — the reference is a stream processor, so
  * events/sec is its native throughput metric (its sizing example budgets
  * 10 msg/s/topic with 200 ms handlers, doc/CONCEPTS.md:38-43; the Spark
  * pipeline is vectorized, so expect 5-6 orders of magnitude above that).
  * Reported as an extra "stream" key on the same JSON line.
  */
object Bench {

  /** Push `n` synthetic JSON envelopes through a full stream route (with
    * ~1% retries and ~0.5% corrupt records exercising the DLQ path) and
    * return (seconds, events/sec). `stateful = true` additionally chains
    * a keyed `dropDuplicatesWithinWatermark` stage into the route's
    * middleware slot — every record is a unique key, so the stage drops
    * nothing and costs exactly ONE state-store put per record: the
    * backend-throughput probe the stateless base route cannot provide
    * (a state-provider flip over a stateless route measures nothing). */
  private def streamThroughput(spark: SparkSession, n: Long,
      stateful: Boolean = false, warm: Boolean = false): (Double, Double) = {
    import graft.streaming._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("graft-bench-stream").toString
    val topics = new FileTopicIO(s"$base/topics")
    val route = StreamRouteConfig(
      topicEntity = "bench", originTopic = "bench_origin",
      retry = RetryConfig(enabled = true, count = 1,
        backoffType = BackoffType.Linear, queueTimeoutMs = 0L))
    val engine = new GraftEngine(spark,
      EngineConfig(streamRoutes = Map("bench" -> route)), topics, s"$base/ckpt")
    // seed distributed (never a driver-side Seq): id % 200 == 199 → business
    // failure (retry); % 200 == 198 → corrupt bytes (deser-failure DLQ, E9)
    def envelopes(from: Long, until: Long) = spark.range(from, until).select(
      encode(col("id").cast("string"), "UTF-8").as("key"),
      encode(when(col("id") % 200 === 198, lit("corrupt-not-json"))
        .otherwise(concat(lit("{\"amount\": "),
          when(col("id") % 200 === 199, lit(-1)).otherwise(col("id") % 100),
          lit("}"))), "UTF-8").as("value"),
      lit("bench_origin").as("topic"),
      (col("id") % 32).cast("int").as("partition"),
      col("id").as("offset"),
      current_timestamp().as("timestamp"),
      lit("bench").as("topicEntity"),
      lit(null).cast("int").as("retryCount"),
      lit(null).cast("timestamp").as("nextAttemptAt"),
      lit(null).cast("string").as("channel"))
    topics.append(envelopes(0L, n), "bench_origin")
    val schema = StructType(Seq(StructField("amount", IntegerType)))
    val handler = Dispatch.ExprHandler(
      when(col("message").isNull, "dead_letter")
        .when(col("message.amount") < 0, "retry")
        .otherwise("success"))
    val middleware: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame =
      if (stateful)
        (Middleware.json(schema): org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame)
          .andThen(Pipeline.dedupWithinWatermark(Seq("key")))
      else Middleware.json(schema)
    try {
      // warm mode (the stream_warm fragment): drain a first n-event batch
      // UNTIMED through the same route — engine built, route codegen'd,
      // sinks and checkpoint tree created — then append n more events
      // (monotone offsets n..2n-1, same failure mix) and time ONLY the
      // re-started route's AvailableNow drain over the warm
      // infrastructure. The cold fragments bundle ~1.3 s of fixed
      // engine/topic setup into every pass; this fragment
      // is the engine's MARGINAL per-event cost a long-lived production
      // route actually pays, measurable separately from start/stop.
      if (warm) {
        engine.startStreamRoute(route, middleware, handler,
          Trigger.AvailableNow()).awaitTermination()
        topics.append(envelopes(n, 2L * n), "bench_origin")
      }
      val t0 = System.nanoTime()
      engine.startStreamRoute(route, middleware, handler,
        Trigger.AvailableNow()).awaitTermination()
      val sec = (System.nanoTime() - t0) / 1e9
      (sec, n / sec)
    } finally {
      // ALWAYS decommission: a failed pass that skipped stopAll left the
      // dead engine's lifecycle listener registered with 'route-bench'
      // still mapped — the next pass's same-named query would bind into
      // the dead engine's failure policy (the exact stale-engine hazard
      // stopAll's doc warns about). And drop the pass's topic/checkpoint
      // tree: ~8 passes × up to 5M-event parquet logs otherwise pile up
      // multi-GB of /tmp debris per bench run, and on a small tmpfs
      // the later long passes fail with no-space errors that read as
      // throughput regressions.
      try engine.stopAll()
      catch { case scala.util.control.NonFatal(_) => () }
      deleteTree(java.nio.file.Paths.get(base))
    }
  }

  /** Best-effort recursive delete (cleanup must never fail a pass —
    * bestEffort guards both the walk and the per-entry deletes). */
  private def deleteTree(p: java.nio.file.Path): Unit =
    FsTree.delete(p, bestEffort = true)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS")
      .flatMap(_.toIntOption).getOrElse(32)
    // ONE canonical builder (GraftSession) for every main, so their
    // session settings cannot drift apart
    val spark = GraftSession.build("graft-bench", s"local[$cpus]", cpus)

    val names = SparkEntry.headlines
    // one warmup pass on the smallest SF to JIT/codegen before timing
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => () }
    }
    // Fixed-work calibration: a constant spark.range aggregation whose cost
    // is independent of SF and of this repo's code. Any reader can compare
    // calibration values across runs to normalize out host load.
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      // collect() (not count()) so the per-row arithmetic is the RESULT and
      // cannot be pruned — count() over the aggregate lets the optimizer
      // drop both expressions and time an empty range scan instead
      val r = spark.range(2000000000L)
        .selectExpr("sum(id * 3 + 1) as s", "count(if(id % 7 = 0, 1, null)) as c")
        .collect()
      require(r.nonEmpty && !r(0).isNullAt(0))
      (System.nanoTime() - t0) / 1e9
    }
    // MULTI-CORE calibration probe: the same fixed-work discipline, but
    // sized to SATURATE every core (constant rows per core, explicit
    // numSlices = cpus) for ~2 s. The single probe's per-core slice is
    // ~60 ms — too short to collide with a co-tenant reliably — so a
    // neighbor stealing half the cores barely moves it while tripling a
    // 32-way streaming pass. This probe absorbs contention the
    // way the real 32-way fragments do. Modular term keeps the sum far
    // from Long overflow at any cpu count (ANSI-safe).
    def calibrateMc(): Double = {
      val t0 = System.nanoTime()
      val r = spark.range(0L, 250000000L * cpus, 1L, cpus)
        .selectExpr("sum((id % 1000000) * 3 + 1) as s",
          "count(if(id % 7 = 0, 1, null)) as c")
        .collect()
      require(r.nonEmpty && !r(0).isNullAt(0))
      (System.nanoTime() - t0) / 1e9
    }
    def loadavg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split(" ").take(3).mkString(",")
      catch { case _: Throwable => "" }
    val load0 = loadavg()
    // JIT the calibration itself, then take the min of three warm runs:
    // the second call still carries ~0.2 s of warmup on an idle host
    // (measured 0.75 vs the 0.53 settled floor), which would trip the
    // absolute idle-floor guard as a false positive
    var calBefore = { calibrate(); Seq.fill(3)(calibrate()).min }
    // the MC probe is ~2 s per run: one warmup + min of two is enough
    // (its long saturated window self-averages JIT tails)
    var calMcBefore = { calibrateMc(); Seq.fill(2)(calibrateMc()).min }
    // per-query time = min of 3 COLD executions with the query ORDER ROTATED
    // between passes: min-of-N measures the engine rather than the neighbors,
    // and rotation keeps a load spike from taxing the same query every pass.
    // clearCache() between runs evicts operator-internal .cache()s so every
    // execution pays the full pipeline.
    val passes = 3
    val timed = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    // A query that throws in ANY pass is a FAILURE, not a fast run: its
    // elapsed time is the time-to-crash (analysis errors abort in ms), so
    // recording it would deflate the headline total. Failed
    // queries are excluded from queries/total and reported in `failed`.
    val failedWhy = scala.collection.mutable.Map.empty[String, String]
    def runPasses(): Unit = for (p <- 0 until passes) {
      val shift = p * names.length / passes
      val order = names.drop(shift) ++ names.take(shift)
      order.foreach { name =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        try {
          SparkEntry.queries(name)(spark, sfDir).count()
          timed(name) = ((System.nanoTime() - t0) / 1e9) :: timed(name)
        } catch { case e: Throwable =>
          failedWhy(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
          System.err.println(s"[bench] $name FAILED: ${failedWhy(name)}")
        }
      }
    }
    runPasses()
    var calAfter = calibrate()
    var calMcAfter = calibrateMc()
    // Self-defense against a loaded host: either probe drifting >1.3x
    // across the passes (a neighbor arrived or left mid-run) or sitting
    // >1.3x above its idle floor (a neighbor present the whole time)
    // means the run measured the neighbor, not the engine. Retry until
    // quiet, bounded by [[MaxLoadReruns]]: each retry sleeps 30 s,
    // re-baselines both probes, re-runs the rotated passes and measures
    // both probes again, so min-of-N picks the quiet passes. If the host
    // never quiets, the artifact ships load_suspect=true with
    // `load_reruns` at the bound.
    val idleRef = calibrationIdleRef
    val mcIdleRef = calibrationMcIdleRef
    def elevated(): Boolean = loadElevated(calBefore, calAfter,
      calMcBefore, calMcAfter, idleRef, mcIdleRef)
    var loadReruns = 0
    while (elevated() && loadReruns < MaxLoadReruns) {
      System.err.println(f"[bench] calibration elevated (sc ${calBefore}%.3f" +
        f" -> ${calAfter}%.3f, mc ${calMcBefore}%.3f -> ${calMcAfter}%.3f);" +
        f" sleeping 30s and re-running passes (retry ${loadReruns + 1}" +
        f"/$MaxLoadReruns)")
      Thread.sleep(30000)
      loadReruns += 1
      calBefore = calibrate()
      calMcBefore = calibrateMc()
      runPasses()
      calAfter = calibrate()
      calMcAfter = calibrateMc()
    }
    val calRatio = math.min(calBefore, calAfter) / idleRef
    val mcRatio = math.min(calMcBefore, calMcAfter) / mcIdleRef
    val loadSuspect = elevated()
    val load1 = loadavg()
    // calibration_ratio / calibration_mc_ratio / normalized_total make the
    // artifact readable THROUGH host noise at a glance, without dividing
    // totals by calibration ratios by hand. normalized_total divides by the
    // larger of the two ratios — the most conservative de-noising, and still
    // an ESTIMATE: calibration measures the host, not the plans.
    val hostJson =
      f""","calibration_sec":{"before":$calBefore%.3f,"after":$calAfter%.3f}""" +
        f""","calibration_idle_ref":$idleRef%.3f""" +
        f""","calibration_mc_sec":{"before":$calMcBefore%.3f,"after":$calMcAfter%.3f}""" +
        f""","calibration_mc_idle_ref":$mcIdleRef%.3f""" +
        f""","calibration_ratio":$calRatio%.3f""" +
        f""","calibration_mc_ratio":$mcRatio%.3f""" +
        s""","load_suspect":$loadSuspect,"load_reruns":$loadReruns""" +
        s""","loadavg":{"before":"$load0","after":"$load1"}"""
    // full-route streaming throughput: warmup pass, then the SAME min-of-N
    // discipline as queries — the stream number is the single most
    // load-sensitive value in the artifact (±25% across honest runs; one
    // polluted single pass can read several times low). Each pass builds a
    // fresh topic/checkpoint dir, so every run pays the full cold route.
    val streamJsonStr = try {
      // warmup: its failure is a warning, not a reason to skip measuring
      try streamThroughput(spark, 20000L)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] stream warmup failed: ${e.getMessage}")
      }
      // SPARK_GRAFT_STREAM_N: short-horizon override (a malformed value
      // degrades warn-and-default, never drops the stream keys)
      val streamN = envKnob("SPARK_GRAFT_STREAM_N", 500000L)(_.toLongOption)
      // STREAM-SHAPED fixed-work calibration: the single-core and MC probes
      // measure raw arithmetic, and a co-tenant can cut stream_long 3x while
      // the MC ratio reads near 1 — a saturating 32-way route pass
      // (micro-batch planning, state, sink writes) feels contention the
      // compute probes cannot. A constant-size pass through the SAME bench
      // route, best-of-2 before the measured fragments and once after,
      // brackets the stream section the way calibrate() brackets the query
      // passes; its ratio against the idle floor normalizes the stream
      // numbers at a glance. Best-effort like every stream pass: a
      // calibration failure degrades to an un-normalized artifact, never
      // discards the fragments.
      def streamCalOnce(): Option[Double] =
        try Some(streamThroughput(spark, StreamCalN)._1)
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[bench] stream calibration pass failed: ${e.getMessage}")
          None
        }
      val streamCalStart = Seq.fill(2)(streamCalOnce()).flatten.minOption
      // BOUNDARY calibration passes between fragments give EACH
      // fragment its own (before, after) bracket: a section-wide
      // bracket can certify the window clean while a contention burst
      // hits only the long passes, and its ratio would then normalize
      // (launder) the dirty number. `lastCal` carries the most recent measurement
      // forward so a failed boundary pass degrades a bracket's span,
      // never fabricates a value.
      var lastCal: Option[Double] = streamCalStart
      def boundaryCal(measured: Boolean): Option[Double] =
        if (measured && streamCalStart.isDefined) {
          val c = streamCalOnce()
          if (c.isDefined) lastCal = c
          c
        } else None
      // per-pass try, same degradation contract for every fragment: one
      // transient pass failure must cost ONE measurement, never discard
      // the other passes or skip the remaining fragments. When the
      // fragment's own pass spread exceeds StreamSpreadBound, ONE extra
      // pass runs after a short sleep (the query passes' rerun
      // discipline) so min-of-N gets a shot at a quiet window; the
      // spread rides the artifact either way.
      def measureFragment(label: String, n: Long, passCount: Int,
          stateful: Boolean = false, warm: Boolean = false)
          : (Seq[(Double, Double)], Int) = {
        def once(i: Int): Option[(Double, Double)] =
          try Some(streamThroughput(spark, n, stateful, warm))
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(
              s"[bench] $label pass $i failed: ${e.getMessage}")
            None
          }
        val runs = (1 to passCount).flatMap(once(_))
        if (runs.size >= 2 && passSpread(runs) > StreamSpreadBound) {
          System.err.println(
            f"[bench] $label pass spread ${passSpread(runs)}%.2fx > " +
              f"$StreamSpreadBound%.1fx (contention hit some passes); " +
              "sleeping 10s and running one extra pass")
          Thread.sleep(10000)
          (runs ++ once(passCount + 1), 1)
        } else (runs, 0)
      }
      val (runs, shortReruns) =
        measureFragment("stream", streamN, streamPassCount)
      val shortCalAfter = boundaryCal(runs.nonEmpty)
      // Warm-engine fragment (stream_warm, an additive key): the
      // cold fragments cannot separate the engine's per-event cost from
      // the ~1.3 s fixed route setup every pass re-pays. Each pass
      // drains one untimed cold batch, then times a second equal batch
      // through the SAME engine/route/checkpoint — events/sec of the
      // timed half is the warm marginal throughput. Same pass/bracket
      // discipline as every fragment; old keys stay byte-identical.
      val warmCalBefore = lastCal
      val (warmRuns, warmReruns) =
        measureFragment("stream_warm", streamN, streamPassCount,
          warm = true)
      val warmCalAfter = boundaryCal(warmRuns.nonEmpty)
      // Long-horizon passes at 10× (override: SPARK_GRAFT_STREAM_LONG_N;
      // 0 disables): their events/s should hold near the short-horizon
      // number — degradation here means O(topic-size) cost crept into
      // the append path and would be invisible to the 500k passes.
      // Best-of-N with fresh topic/checkpoint dirs per pass: a one-pass
      // number cannot tell warmup sensitivity from O(topic-size) creep.
      val longN = envKnob("SPARK_GRAFT_STREAM_LONG_N",
        streamN * 10)(_.toLongOption)
      val longCalBefore = lastCal
      val (longRuns, longReruns) =
        if (longN > 0)
          measureFragment("stream_long", longN, longStreamPassCount)
        else (Nil, 0)
      val longCalAfter = boundaryCal(longRuns.nonEmpty)
      // RocksDB-backed STATEFUL long passes (stream_long_rocksdb): the
      // base route is stateless, so a bare provider flip would measure
      // nothing — these passes chain a keyed dedupe stage (one
      // state-store put per record) and run it on the RocksDB provider,
      // the backend the 100 TB story names for bounded state. The
      // number is self-comparable ROUND-OVER-ROUND (a state-backend
      // throughput regression shows here first), NOT against
      // stream_long, whose route has no stateful stage.
      val rocksCalBefore = lastCal
      val (rocksLongRuns, rocksReruns) =
        if (longN > 0) {
          val prior = graft.GraftSession.rocksdbConfs.keys
            .map(k => k -> spark.conf.getOption(k)).toMap
          graft.GraftSession.rocksdbConfs.foreach { case (k, v) =>
            spark.conf.set(k, v) }
          try measureFragment("stream_long_rocksdb", longN,
            longStreamPassCount, stateful = true)
          finally prior.foreach {
            case (k, Some(v)) => spark.conf.set(k, v)
            case (k, None)    => spark.conf.unset(k)
          }
        } else (Nil, 0)
      val rocksCalAfter = boundaryCal(rocksLongRuns.nonEmpty)
      if (runs.isEmpty) {
        System.err.println(
          "[bench] every short stream pass failed; no stream keys")
        ""
      } else streamJson(Seq(
        StreamFragment("stream", streamN, runs,
          streamCalStart, shortCalAfter, shortReruns),
        StreamFragment("stream_warm", streamN, warmRuns,
          warmCalBefore, warmCalAfter, warmReruns),
        StreamFragment("stream_long", longN, longRuns,
          longCalBefore, longCalAfter, longReruns),
        StreamFragment("stream_long_rocksdb", longN, rocksLongRuns,
          rocksCalBefore, rocksCalAfter, rocksReruns)),
        streamCalIdleRef)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] stream throughput failed: ${e.getMessage}")
      ""
    }
    println(resultJson(names, timed.toMap, failedWhy.toMap, sfDir,
      hostJson, streamJsonStr,
      normalizeBy = Some(math.max(1.0, math.max(calRatio, mcRatio)))))
    spark.stop()
    if (failedWhy.nonEmpty) sys.exit(1)
  }

  /** Load-guard decision: the fixed-work calibration drifting >1.3x in
    * EITHER direction across the run means a neighbor was taxing the
    * host for part of it — the query times measured the neighbor, not
    * the engine. Symmetric on purpose: a neighbor
    * that was present from startup through the passes and exited before
    * calAfter shows calibration getting FASTER (calAfter/calBefore well
    * below 1), which a one-sided slower-only test read as clean. Pure —
    * BenchJsonSpec pins the threshold and both directions. */
  def loadRerunNeeded(calBefore: Double, calAfter: Double): Boolean = {
    val r = calAfter / calBefore
    math.max(r, 1.0 / r) > 1.3
  }

  /** THE load verdict over both probes' before/after calibrations,
    * driving both the retry-until-quiet loop and `load_suspect`: either
    * probe drifting across the passes ([[loadRerunNeeded]]) or either
    * probe's best calibration above its idle floor
    * ([[loadSuspectAbsolute]]). The multi-core probe counts on its own:
    * a co-tenant can triple the 32-way stream passes while the
    * single-core probe reads only 1.5x high. Pure — BenchJsonSpec pins
    * it. */
  def loadElevated(calBefore: Double, calAfter: Double,
      calMcBefore: Double, calMcAfter: Double,
      idleRef: Double, mcIdleRef: Double): Boolean =
    loadRerunNeeded(calBefore, calAfter) ||
      loadSuspectAbsolute(math.min(calBefore, calAfter), idleRef) ||
      loadRerunNeeded(calMcBefore, calMcAfter) ||
      loadSuspectAbsolute(math.min(calMcBefore, calMcAfter), mcIdleRef)

  /** Bound on the retry-until-quiet loop: each retry is ~30 s of sleep
    * plus one full set of rotated passes, so 3 retries cost a few
    * minutes against a run whose numbers would otherwise be
    * unadjudicable. Exhausting the bound ships load_suspect=true with
    * load_reruns at the bound — an honest "the host never quieted". */
  val MaxLoadReruns = 3

  /** Idle-host calibration floor (seconds) for the ABSOLUTE load guard:
    * drift-only detection reads a host that is uniformly loaded for the
    * entire run (calBefore ≈ calAfter, both high) as clean. Measured as the
    * min of repeated calibrate() runs on this build host at rest; override
    * with SPARK_GRAFT_CAL_IDLE when the bench moves to different hardware
    * (the artifact records whichever reference was used as
    * `calibration_idle_ref`). */
  val CalibrationIdleRefDefault = 0.54

  /** THE warn-and-default parse for every SPARK_GRAFT_* env knob: a
    * malformed value degrades to the default with a warning, never a
    * throw — a bare .toDouble on a typo'd env var once crashed the
    * bench at the finish line, discarding the whole run's
    * measurements. One definition; five knobs read through it. */
  private def envKnob[T](name: String, default: T)(
      parse: String => Option[T]): T =
    sys.env.get(name).map(v => parse(v).getOrElse {
      System.err.println(s"[bench] ignoring malformed $name='$v'")
      default
    }).getOrElse(default)

  def calibrationIdleRef: Double =
    envKnob("SPARK_GRAFT_CAL_IDLE",
      CalibrationIdleRefDefault)(_.toDoubleOption)

  /** Absolute trigger: even the BEST calibration of the run exceeding
    * the idle floor by >1.3x means the whole run was elevated. Pure —
    * BenchJsonSpec pins the threshold. */
  def loadSuspectAbsolute(bestCal: Double, idleRef: Double): Boolean =
    bestCal / idleRef > 1.3

  /** Idle-host floor for the MULTI-CORE calibration probe (seconds) —
    * measured as the min of repeated calibrateMc() runs on this build
    * host at rest (32 cores saturated ~2 s). Override with
    * SPARK_GRAFT_CAL_MC_IDLE on different hardware; the artifact
    * records whichever reference was used as `calibration_mc_idle_ref`.
    * Per-core work is constant (250M rows/core), so the floor is
    * roughly cpu-count-independent on unloaded hardware. */
  val CalibrationMcIdleRefDefault = 1.9

  def calibrationMcIdleRef: Double =
    envKnob("SPARK_GRAFT_CAL_MC_IDLE",
      CalibrationMcIdleRefDefault)(_.toDoubleOption)

  /** Measured stream passes per run (fresh checkpoint/topic dirs each). */
  val streamPassCount = 3

  /** Long-horizon (10×) passes per run — best-of-3: two passes can both
    * land inside one contention window. The third pass widens the window
    * the way streamPassCount=3 does for the short fragment, and the MC
    * calibration ratio flags what min-of-N cannot dodge. */
  val longStreamPassCount = 3

  /** Fixed event count of the stream-shaped calibration pass — constant
    * (never overridable alongside STREAM_N) so the work is comparable
    * across runs and hosts. Sized to the short fragment's default:
    * a smaller probe is dominated by the
    * ~1.3 s fixed engine/topic setup of a cold route and calibrates the
    * JVM, not the host's streaming capacity. */
  val StreamCalN = 500000L

  /** Idle-host floor (seconds) for the [[StreamCalN]]-event calibration
    * pass, measured as the min of repeated passes on this build host at
    * rest. Override with SPARK_GRAFT_CAL_STREAM_IDLE on different hardware;
    * the artifact records whichever reference was used. */
  val CalibrationStreamIdleRefDefault = 2.40

  def streamCalIdleRef: Double =
    envKnob("SPARK_GRAFT_CAL_STREAM_IDLE",
      CalibrationStreamIdleRefDefault)(_.toDoubleOption)

  /** Pass-spread bound for the per-fragment suspect flag and the
    * spread-triggered extra pass: max(sec)/min(sec) over a fragment's
    * own cold passes. Deliberately LOOSER than the 1.3x calibration
    * drift bound — fresh-route cold passes carry natural warmup
    * variance (clean runs sit at 1.1-1.35x), and a flag that fires on
    * every clean run stops meaning anything. */
  val StreamSpreadBound = 1.5

  /** max/min seconds across a fragment's measured passes (1.0 for a
    * single pass — spread needs two points). */
  def passSpread(runs: Seq[(Double, Double)]): Double =
    if (runs.size < 2) 1.0
    else runs.map(_._1).max / runs.map(_._1).min

  /** One measured stream fragment: `runs` are its (sec, events/sec)
    * passes (empty → the fragment is omitted from the artifact);
    * `calBefore`/`calAfter` its OWN bracketing stream-shaped
    * calibration measurements (the boundary passes in main — a single
    * section-wide bracket cannot see contention that hits only the long
    * passes); `reruns` how many spread-triggered
    * extra passes ran. */
  final case class StreamFragment(key: String, events: Long,
      runs: Seq[(Double, Double)], calBefore: Option[Double] = None,
      calAfter: Option[Double] = None, reruns: Int = 0)

  /** Assemble the stream section from per-fragment measurements. The
    * first fragment must be the short `stream` fragment with at least
    * one pass (its count key is `stream_passes`; the others use
    * `passes` — a reader then knows every number survived N cold runs,
    * not one). Each non-empty fragment reports the BEST pass (min
    * seconds, the query times' defense) plus its own adjudication
    * keys:
    *
    *  - `spread`: max/min pass seconds — contention that hit SOME
    *    passes shows here even when every calibration ran clean
    *  - `cal_sec` {before, after}: the fragment's own bracket (sides
    *    independently optional — a failed boundary pass degrades the
    *    bracket, never fabricates it)
    *  - `cal_ratio`: best bracket side over `idleRef` (min-over-floor,
    *    same rule as calibration_ratio)
    *  - `events_per_sec_normalized`: eps × max(1, cal_ratio) — now
    *    computed from the fragment's OWN ratio, so a clean section
    *    bracket can no longer launder a dirty fragment
    *  - `suspect`: spread > [[StreamSpreadBound]], OR bracket drift
    *    >1.3x, OR bracket absolute >1.3x over the floor — the
    *    per-fragment flag a verdict reads before trusting any delta
    *  - `reruns`: spread-triggered extra passes taken
    *
    * Section-wide keys remain for continuity: `calibration_stream_sec`
    * spans the first fragment's before to the LAST measured fragment's
    * own after (a side whose boundary pass failed is omitted, never
    * backfilled from a pre-fragment measurement),
    * `calibration_stream_ratio` is the best calibration anywhere in
    * the section over the floor, and `stream_load_suspect` is the OR
    * of the section bracket's own drift/absolute triggers and every
    * fragment's `suspect`. Pure — BenchJsonSpec pins the contract; to
    * see the flag fire on a real host, run the bench beside
    * `stress --cpu 32` (or any co-tenant) and read the per-fragment
    * `suspect`/`spread` keys. */
  def streamJson(fragments: Seq[StreamFragment],
      idleRef: Double = CalibrationStreamIdleRefDefault): String = {
    require(fragments.nonEmpty && fragments.head.key == "stream" &&
      fragments.head.runs.nonEmpty,
      "streamJson needs a measured short fragment first")
    def fragCalSides(f: StreamFragment): Seq[Double] =
      (f.calBefore ++ f.calAfter).toSeq
    def fragRatio(f: StreamFragment): Option[Double] =
      fragCalSides(f).minOption.map(_ / idleRef)
    def fragSuspect(f: StreamFragment): Boolean = {
      val drift = (for (b <- f.calBefore; a <- f.calAfter)
        yield loadRerunNeeded(b, a)).getOrElse(false)
      val absolute =
        fragCalSides(f).minOption.exists(loadSuspectAbsolute(_, idleRef))
      passSpread(f.runs) > StreamSpreadBound || drift || absolute
    }
    // only ever called on `measured` below — the filter there is the
    // one enforcement of fragment omission, not a guard in here
    def fragJson(f: StreamFragment): String = {
        val (sec, eps) = f.runs.minBy(_._1)
        val passKey = if (f.key == "stream") "stream_passes" else "passes"
        val norm = fragRatio(f).map(r =>
          f""","events_per_sec_normalized":${(eps * math.max(1.0, r)).round}""")
          .getOrElse("")
        val calSec = (f.calBefore, f.calAfter) match {
          case (None, None) => ""
          case (b, a) =>
            val sides = (b.map(v => f""""before":$v%.3f""") ++
              a.map(v => f""""after":$v%.3f""")).mkString(",")
            s""","cal_sec":{$sides}"""
        }
        val calRatio = fragRatio(f)
          .map(r => f""","cal_ratio":$r%.3f""").getOrElse("")
        f""","${f.key}":{"events":${f.events},"sec":$sec%.3f,""" +
          f""""events_per_sec":${eps.round}$norm,""" +
          f""""$passKey":${f.runs.size},""" +
          f""""spread":${passSpread(f.runs)}%.3f$calSec$calRatio,""" +
          f""""suspect":${fragSuspect(f)},"reruns":${f.reruns}}"""
      }
    val measured = fragments.filter(_.runs.nonEmpty)
    val allCal = measured.flatMap(fragCalSides)
    val calJson =
      if (allCal.isEmpty) ""
      else {
        val first = fragments.head.calBefore
        // the span's after side is ONLY the last measured fragment's
        // own after-boundary pass: falling back to a calBefore here
        // would relabel a pre-fragment measurement as the section's
        // close — the artifact would show a clean, drift-free closed
        // bracket that never closed (before == after makes the drift
        // check structurally false). A failed final boundary pass
        // degrades the span to its before side, honestly open.
        val last = measured.lastOption.flatMap(_.calAfter)
        val sectionRatio = allCal.min / idleRef
        val sectionDrift = (for (b <- first; a <- last)
          yield loadRerunNeeded(b, a)).getOrElse(false)
        val suspect = sectionDrift ||
          loadSuspectAbsolute(allCal.min, idleRef) ||
          measured.exists(fragSuspect)
        val span = ((first.map(v => f""""before":$v%.3f""") ++
          last.map(v => f""""after":$v%.3f""")).mkString(","))
        s""","calibration_stream_sec":{$span}""" +
          f""","calibration_stream_idle_ref":$idleRef%.3f""" +
          f""","calibration_stream_ratio":$sectionRatio%.3f""" +
          s""","stream_load_suspect":$suspect"""
      }
    measured.map(fragJson).mkString + calJson
  }

  /** Assemble the one-line bench JSON. n_queries makes headline-set growth
    * explicit: cross-run TOTAL comparisons are only meaningful at equal
    * query counts — the headline set grows, so compare per-query
    * times (or equal subsets). n_queries counts only SUCCESSFUL queries;
    * a crashed query contributes NOTHING to queries/total (its elapsed
    * time is time-to-crash) and is named in `failed` + n_failed.
    * Pure — BenchJsonSpec pins the accounting. */
  /** `normalizeBy`: the run's load factor (best calibration over its
    * idle ref, the larger of the single-core and multi-core ratios,
    * clamped to >= 1 by the caller so a fast host never flatters the
    * total). Emitted as `normalized_total` = value / factor — the
    * at-a-glance cross-run number; still an estimate (calibration
    * measures the host, not the plans). */
  def resultJson(names: Seq[String], timed: Map[String, List[Double]],
      failedWhy: Map[String, String], sfDir: String,
      hostJson: String = "", streamJson: String = "",
      normalizeBy: Option[Double] = None): String = {
    val ok = names.filterNot(failedWhy.contains)
    val results = ok.map(n => n -> timed(n).min)
    val qs = results.map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // queries_normalized: the per-query twin of normalized_total (each
    // raw time divided by the same load factor) — ADDITIVE key only;
    // the raw `queries` map stays byte-identical.
    val normJson = normalizeBy.filter(_ > 0.0).map { f =>
      val nq = results.map { case (k, v) => "\"" + k + f"""\":${v / f}%.3f""" }
        .mkString("{", ",", "}")
      f""","normalized_total":${total / f}%.3f""" +
        s""","queries_normalized":$nq"""
    }.getOrElse("")
    val failedJson =
      if (failedWhy.isEmpty) ""
      else names.filter(failedWhy.contains)
        .map(n => "\"" + n + "\"").mkString(""","failed":[""", ",", "]")
    f"""{"metric":"total","value":$total%.3f,"unit":"sec"$normJson,"n_queries":${ok.length},"n_failed":${failedWhy.size},"queries":$qs,"sf":"$sfDir"$failedJson$hostJson$streamJson}"""
  }
}
