package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench accounting contract (round-5 postmortem): a crashed query must
  * contribute nothing to queries/total and must be named in failed — a
  * time-to-crash is not a benchmark result. */
class BenchJsonSpec extends AnyFunSuite {

  private val names = Seq("q_a", "q_b", "q_c")
  private val timed = Map(
    "q_a" -> List(1.5, 1.25, 2.0),
    "q_b" -> List(0.5),
    "q_c" -> List(3.0, 2.75))

  test("all-green: min-of-passes per query, summed total, no failed key") {
    val j = Bench.resultJson(names, timed, Map.empty, "/sf")
    assert(j.contains(""""n_queries":3"""))
    assert(j.contains(""""n_failed":0"""))
    assert(j.contains(""""q_a":1.250"""))
    assert(j.contains(""""value":4.500""")) // 1.25 + 0.5 + 2.75
    assert(!j.contains("failed\":["))
  }

  test("a failed query is excluded from queries/total and listed") {
    val j = Bench.resultJson(names, timed - "q_b",
      Map("q_b" -> "boom"), "/sf")
    assert(j.contains(""""n_queries":2"""))
    assert(j.contains(""""n_failed":1"""))
    assert(j.contains(""""value":4.000""")) // 1.25 + 2.75, no q_b
    assert(j.contains(""""failed":["q_b"]"""))
    assert(!j.contains(""""q_b":"""))
  }

  test("a query that failed in ONE pass but has times recorded is still a " +
      "failure (partial-crash times are not results)") {
    val j = Bench.resultJson(names, timed, Map("q_c" -> "flaky"), "/sf")
    assert(j.contains(""""n_queries":2"""))
    assert(j.contains(""""value":1.750""")) // 1.25 + 0.5
    assert(j.contains(""""failed":["q_c"]"""))
  }

  test("the line is valid JSON with host/stream fragments spliced in") {
    val j = Bench.resultJson(names, timed, Map("q_b" -> "x"), "/sf",
      hostJson = ""","calibration_sec":{"before":0.5,"after":0.6}""",
      streamJson = ""","stream":{"events":10,"sec":1.0,"events_per_sec":10}""")
    val parsed = ujson(j)
    assert(parsed.contains("calibration_sec") && parsed.contains("stream"))
  }

  import Bench.StreamFragment

  test("stream fragment: BEST of the measured passes is reported (min " +
      "seconds), stream_passes carries the pass count, spread/suspect/" +
      "reruns ride every fragment, and the main runs the pinned " +
      "multi-pass count") {
    val j = Bench.streamJson(Seq(StreamFragment("stream", 500000L, Seq(
      (4.0, 125000.0), (3.2, 156250.0), (4.1, 121951.0)))))
    ujson(s"""{"_":0$j}""")
    assert(j.contains("\"sec\":3.200"), j)
    assert(j.contains("\"events_per_sec\":156250"), j)
    assert(j.contains("\"stream_passes\":3"), j)
    // spread 4.1/3.2 = 1.281 < 1.5: within cold-pass noise, not suspect
    assert(j.contains("\"spread\":1.281"), j)
    assert(j.contains("\"suspect\":false"), j)
    assert(j.contains("\"reruns\":0"), j)
    // the measured-pass count the main loops over — min-of-1 is exactly
    // the round-8 defect (one polluted pass rode the artifact)
    assert(Bench.streamPassCount >= 3,
      "the stream number needs the same min-of-N defense as queries")
    intercept[IllegalArgumentException] { Bench.streamJson(Nil) }
    intercept[IllegalArgumentException] {
      Bench.streamJson(Seq(StreamFragment("stream", 1L, Nil)))
    }
  }

  test("stream_long / stream_long_rocksdb fragments ride their own " +
      "best-of-N keys with a passes count, and are omitted when " +
      "disabled or when every pass failed") {
    val j = Bench.streamJson(Seq(
      StreamFragment("stream", 500000L, Seq((3.2, 156250.0))),
      StreamFragment("stream_long", 5000000L,
        Seq((41.7, 119904.0), (33.1, 151057.0))),
      StreamFragment("stream_long_rocksdb", 5000000L,
        Seq((21.4, 233645.0), (18.2, 274725.0)))))
    ujson(s"""{"_":0$j}""")
    assert(j.contains(""""stream_long":{"events":5000000"""), j)
    // min-seconds pass wins, same defense as the short fragment
    assert(j.contains("\"sec\":33.100"), j)
    assert(j.contains("\"events_per_sec\":151057"), j)
    assert(j.contains(""""stream_long_rocksdb":{"events":5000000"""), j)
    assert(j.contains("\"sec\":18.200"), j)
    assert(j.contains("\"events_per_sec\":274725"), j)
    // short-horizon fields unchanged by the long passes
    assert(j.contains("\"stream_passes\":1"), j)
    // the main loops the pinned count — one-pass long numbers are the
    // r10 variance defect (766k recorded vs 1.28M clean same-box)
    assert(Bench.longStreamPassCount >= 2,
      "stream_long needs best-of-N, not a single cold pass")
    val without = Bench.streamJson(Seq(
      StreamFragment("stream", 500000L, Seq((3.2, 156250.0))),
      StreamFragment("stream_long", 5000000L, Nil),
      StreamFragment("stream_long_rocksdb", 5000000L, Nil)))
    assert(!without.contains("stream_long"), without)
  }

  test("stream_warm fragment (ADDITIVE, round 16): rides the same " +
      "per-fragment contract as every fragment — `passes` count, spread, " +
      "own bracket — and the pre-existing keys stay byte-identical " +
      "whether it is present, empty, or absent") {
    val coldOnly = Seq(
      StreamFragment("stream", 500000L, Seq((3.2, 156250.0))),
      StreamFragment("stream_long", 5000000L, Seq((33.1, 151057.0))))
    val before = Bench.streamJson(coldOnly)
    val withWarm = Bench.streamJson(Seq(coldOnly.head,
      StreamFragment("stream_warm", 500000L,
        Seq((0.61, 819672.0), (0.55, 909090.0))), coldOnly(1)))
    ujson(s"""{"_":0$withWarm}""")
    assert(withWarm.contains(""""stream_warm":{"events":500000"""), withWarm)
    assert(withWarm.contains("\"sec\":0.550"), withWarm)
    assert(withWarm.contains("\"events_per_sec\":909090"), withWarm)
    assert(withWarm.contains("\"passes\":2"), withWarm)
    // old fragments' rendered JSON is unchanged by the insertion
    Seq("stream", "stream_long").foreach { k =>
      val re = ("\"" + k + "\":\\{[^}]*\\}").r
      assert(re.findFirstIn(before) == re.findFirstIn(withWarm),
        s"$k's keys changed when stream_warm joined")
    }
    // empty warm fragment is omitted, never rendered as a null object
    val empty = Bench.streamJson(Seq(coldOnly.head,
      StreamFragment("stream_warm", 500000L, Nil), coldOnly(1)))
    assert(!empty.contains("stream_warm"), empty)
  }

  test("per-fragment brackets close the r14 laundering hole: a clean " +
      "section bracket beside a DIRTY long-fragment bracket flags the " +
      "long fragment, normalizes it by its OWN ratio, and still flags " +
      "the section (stream_load_suspect = OR over fragments)") {
    // section-edge calibrations clean (1.0 = floor); the long fragment's
    // own bracket reads 5x the floor — r14's section-wide bracket
    // certified this exact window clean and normalized 215k as-is
    val j = Bench.streamJson(Seq(
      StreamFragment("stream", 500000L, Seq((1.0, 500000.0)),
        calBefore = Some(1.0), calAfter = Some(1.0)),
      StreamFragment("stream_long", 5000000L, Seq((23.0, 217391.0)),
        calBefore = Some(1.0), calAfter = Some(5.0)),
      StreamFragment("stream_long_rocksdb", 5000000L,
        Seq((9.0, 555555.0)),
        calBefore = Some(5.0), calAfter = Some(5.1))),
      idleRef = 1.0)
    ujson(s"""{"_":0$j}""")
    // the short fragment is clean: ratio 1, normalized = raw
    assert(j.contains(""""stream":{"events":500000,"sec":1.000,""" +
      """"events_per_sec":500000,"events_per_sec_normalized":500000,""" +
      """"stream_passes":1,"spread":1.000,""" +
      """"cal_sec":{"before":1.000,"after":1.000},"cal_ratio":1.000,""" +
      """"suspect":false,"reruns":0"""), j)
    // the long fragment's own bracket DRIFTED 1->5: suspect, and its
    // normalization uses ITS best side (ratio 1.0 -> x1), never the
    // dirty 5x as a multiplier from a section-wide average
    assert(j.contains(""""stream_long":{"events":5000000,"sec":23.000,""" +
      """"events_per_sec":217391,"events_per_sec_normalized":217391,""" +
      """"passes":1,"spread":1.000,""" +
      """"cal_sec":{"before":1.000,"after":5.000},"cal_ratio":1.000,""" +
      """"suspect":true"""), j)
    // the rocksdb fragment ran WHOLLY inside the contention window:
    // absolute trigger (5/1 > 1.3), normalized UP by its own 5x ratio
    assert(j.contains(""""stream_long_rocksdb":{"events":5000000,""" +
      """"sec":9.000,"events_per_sec":555555,""" +
      """"events_per_sec_normalized":2777775,"passes":1,""" +
      """"spread":1.000,"cal_sec":{"before":5.000,"after":5.100},""" +
      """"cal_ratio":5.000,"suspect":true"""), j)
    // section keys: span = first before -> last after; ratio = best
    // calibration anywhere; suspect = OR over fragments even though the
    // section edges (1.0 ... 5.1) drifted too in this fixture
    assert(j.contains(""""calibration_stream_sec":{"before":1.000,""" +
      """"after":5.100}"""), j)
    assert(j.contains(""""calibration_stream_ratio":1.000"""), j)
    assert(j.contains(""""stream_load_suspect":true"""), j)
  }

  test("pass SPREAD flags contention that hit some passes even when " +
      "every calibration ran clean (bursts strictly inside a " +
      "fragment's window), and a missing bracket side degrades " +
      "honestly; a clean multi-fragment run is suspect nowhere") {
    // burst inside the long window: passes 8s vs 20s = 2.5x spread,
    // both brackets clean
    val burst = Bench.streamJson(Seq(
      StreamFragment("stream", 500000L, Seq((1.0, 500000.0)),
        calBefore = Some(1.0), calAfter = Some(1.0)),
      StreamFragment("stream_long", 5000000L,
        Seq((8.0, 625000.0), (20.0, 250000.0), (8.2, 609756.0)),
        calBefore = Some(1.0), calAfter = Some(1.0), reruns = 1)),
      idleRef = 1.0)
    ujson(s"""{"_":0$burst}""")
    assert(burst.contains("\"spread\":2.500"), burst)
    assert(burst.contains(""""cal_ratio":1.000,"suspect":true,""" +
      """"reruns":1"""), burst)
    assert(burst.contains(""""stream_load_suspect":true"""), burst)
    // best pass still wins the value: min seconds = 8.0
    assert(burst.contains(""""stream_long":{"events":5000000,""" +
      """"sec":8.000"""), burst)
    // a failed boundary pass leaves one bracket side: cal_sec carries
    // only the present side, cal_ratio/normalized still computed
    val oneSided = Bench.streamJson(Seq(
      StreamFragment("stream", 500000L, Seq((1.0, 500000.0)),
        calBefore = Some(2.0), calAfter = None)), idleRef = 1.0)
    ujson(s"""{"_":0$oneSided}""")
    assert(oneSided.contains(""""cal_sec":{"before":2.000}"""), oneSided)
    assert(oneSided.contains(""""cal_ratio":2.000"""), oneSided)
    assert(oneSided.contains(
      """"events_per_sec_normalized":1000000"""), oneSided)
    assert(oneSided.contains(""""suspect":true"""), oneSided)
    // fully clean run: no fragment suspect, section clean, normalized
    // never flatters (ratio < 1 clamps to 1)
    val clean = Bench.streamJson(Seq(
      StreamFragment("stream", 500000L, Seq((1.0, 500000.0)),
        calBefore = Some(0.9), calAfter = Some(1.0)),
      StreamFragment("stream_long", 5000000L, Seq((8.0, 625000.0)),
        calBefore = Some(1.0), calAfter = Some(1.05))), idleRef = 1.0)
    assert(!clean.contains("\"suspect\":true"), clean)
    assert(clean.contains(""""stream_load_suspect":false"""), clean)
    assert(clean.contains(""""events_per_sec":500000,""" +
      """"events_per_sec_normalized":500000"""), clean)
    // no calibration anywhere → no calibration_stream/normalized keys,
    // but spread/suspect/reruns still adjudicate each fragment
    val noCal = Bench.streamJson(Seq(
      StreamFragment("stream", 500000L,
        Seq((1.0, 500000.0), (1.9, 263157.0)))))
    assert(!noCal.contains("calibration_stream") &&
      !noCal.contains("events_per_sec_normalized"), noCal)
    assert(noCal.contains("\"spread\":1.900") &&
      noCal.contains("\"suspect\":true"), noCal)
  }

  test("the section span never fabricates its after side: when the " +
      "LAST measured fragment's after-boundary pass failed, " +
      "calibration_stream_sec stays honestly open (before only) — " +
      "backfilling that fragment's calBefore would relabel a " +
      "pre-fragment measurement as the section's close and make the " +
      "section drift check structurally false (before == after)") {
    val j = Bench.streamJson(Seq(
      StreamFragment("stream", 500000L, Seq((1.0, 500000.0)),
        calBefore = Some(1.0), calAfter = Some(1.0)),
      StreamFragment("stream_long", 5000000L, Seq((8.0, 625000.0)),
        calBefore = Some(5.0), calAfter = None)), idleRef = 1.0)
    ujson(s"""{"_":0$j}""")
    assert(j.contains(""""calibration_stream_sec":{"before":1.000},"""),
      j)
    // the dirty long fragment still flags itself (its one bracket side
    // is 5x the floor) and the OR carries it to the section flag even
    // with the section drift unknowable
    assert(j.contains(""""cal_sec":{"before":5.000},"cal_ratio":5.000,""" +
      """"suspect":true"""), j)
    assert(j.contains(""""stream_load_suspect":true"""), j)
    assert(j.contains(""""events_per_sec_normalized":3125000"""), j)
  }

  test("the spread bound is looser than the calibration drift bound " +
      "(cold-route passes carry natural warmup variance) and passSpread " +
      "is max/min seconds with 1.0 for a single pass") {
    assert(Bench.StreamSpreadBound > 1.3 && Bench.StreamSpreadBound <= 2.0)
    assert(Bench.passSpread(Seq((2.0, 1.0), (3.0, 1.0))) == 1.5)
    assert(Bench.passSpread(Seq((2.0, 1.0))) == 1.0)
    assert(Bench.passSpread(Nil) == 1.0)
  }

  test("load guard: >1.3x calibration drift in EITHER direction demands " +
      "a re-run; within-noise drift does not") {
    assert(Bench.loadRerunNeeded(0.5, 0.7), "0.5 -> 0.7 is a loaded host")
    assert(!Bench.loadRerunNeeded(0.5, 0.6), "within-noise drift passes")
    // symmetric: a neighbor present through the PASSES that exits before
    // calAfter shows calibration getting FASTER — the passes were still
    // polluted (the one-sided slower-only guard read this as clean)
    assert(Bench.loadRerunNeeded(0.9, 0.5),
      "a host that got QUIETER mid-run measured its passes under load")
    assert(!Bench.loadRerunNeeded(0.6, 0.5), "within-noise improvement passes")
  }

  test("absolute load guard: a run whose BEST calibration sits >1.3x " +
      "above the idle floor is load_suspect even with zero drift (the " +
      "uniformly-loaded-host gap); at or near the floor it is clean") {
    val idle = Bench.CalibrationIdleRefDefault
    assert(Bench.loadSuspectAbsolute(idle * 1.4, idle),
      "uniformly elevated run must be flagged")
    assert(!Bench.loadSuspectAbsolute(idle * 1.2, idle),
      "within-noise elevation passes")
    assert(!Bench.loadSuspectAbsolute(idle * 0.9, idle),
      "a faster-than-reference host is never suspect")
    // both triggers feed the same flag: drifting AND uniformly-elevated
    // runs are each suspect on their own
    assert(Bench.loadRerunNeeded(idle, idle * 1.4) ||
      Bench.loadSuspectAbsolute(idle, idle))
  }

  test("normalized_total: value divided by the caller's load factor " +
      "rides beside the raw total; absent when no factor is given " +
      "(the factor is clamped >= 1 by the caller, so a fast host " +
      "never flatters the total)") {
    // total = 1.25 + 0.5 + 2.75 = 4.5; factor 1.5 → 3.0
    val j = Bench.resultJson(names, timed, Map.empty, "/sf",
      normalizeBy = Some(1.5))
    assert(j.contains(""""value":4.500"""), j)
    assert(j.contains(""""normalized_total":3.000"""), j)
    val without = Bench.resultJson(names, timed, Map.empty, "/sf")
    assert(!without.contains("normalized_total"), without)
    // a degenerate factor is dropped, never a divide-by-zero
    assert(!Bench.resultJson(names, timed, Map.empty, "/sf",
      normalizeBy = Some(0.0)).contains("normalized_total"))
  }

  test("queries_normalized: per-query normalized twin rides beside the " +
      "raw queries map (ADDITIVE key — r15's adjudication recomputed " +
      "this table by hand); raw values stay byte-identical, absent " +
      "without a factor") {
    val j = Bench.resultJson(names, timed, Map.empty, "/sf",
      normalizeBy = Some(2.0))
    // raw per-query values unchanged
    assert(j.contains(""""q_a":1.250"""), j)
    assert(j.contains(""""q_c":2.750"""), j)
    // normalized twins: min-of-passes / factor
    assert(j.contains(""""queries_normalized":{"q_a":0.625,"q_b":0.250,"q_c":1.375}"""), j)
    assert(!Bench.resultJson(names, timed, Map.empty, "/sf")
      .contains("queries_normalized"))
    // failed queries are excluded from the normalized map like the raw one
    val withFail = Bench.resultJson(names, timed, Map("q_b" -> "x"), "/sf",
      normalizeBy = Some(2.0))
    assert(!withFail.contains(""""q_b":0.250"""), withFail)
  }

  test("one load verdict over both probes: an MC co-tenant that arrives " +
      "during the passes triggers a rerun even when the single-core probe " +
      "and the MC baseline are quiet") {
    val sc = Bench.CalibrationIdleRefDefault
    val mc = Bench.CalibrationMcIdleRefDefault
    def elevated(scB: Double, scA: Double, mcB: Double, mcA: Double) =
      Bench.loadElevated(scB, scA, mcB, mcA, sc, mc)
    assert(!elevated(sc, sc * 1.05, mc, mc * 1.1), "a quiet run is clean")
    // the co-tenant shows only in the MC probe measured after the passes
    assert(elevated(sc, sc * 1.05, mc, mc * 2.0),
      "MC drift across the passes must trigger a rerun")
    // a co-tenant present the whole time: no drift, both MC sides high
    assert(elevated(sc, sc, mc * 1.5, mc * 1.5))
    // and either single-core trigger on its own
    assert(elevated(sc, sc * 1.5, mc, mc))
    assert(elevated(sc * 1.4, sc * 1.4, mc, mc))
    // a neighbor that LEFT mid-run shows as drift downward
    assert(elevated(sc, sc, mc * 1.25, mc * 0.9))
  }

  test("retry-until-quiet is bounded and real: at least 3 load reruns " +
      "(one rerun let the r15 artifact ship load-poisoned totals)") {
    assert(Bench.MaxLoadReruns >= 3)
  }

  test("stream fragments are at least best-of-3: best-of-2 let a 3x " +
      "co-tenant window ride the r12 artifact as 'the' long number " +
      "(both passes landed inside the same contention window)") {
    assert(Bench.streamPassCount >= 3)
    assert(Bench.longStreamPassCount >= 3)
  }

  test("the multi-core calibration floor is positive and the absolute " +
      "guard applies to it the same way") {
    val mcIdle = Bench.CalibrationMcIdleRefDefault
    assert(mcIdle > 0.0)
    assert(Bench.loadSuspectAbsolute(mcIdle * 1.4, mcIdle))
    assert(!Bench.loadSuspectAbsolute(mcIdle * 1.2, mcIdle))
  }

  // minimal structural check without a JSON dependency: braces balance and
  // the string survives a round-trip through Spark's JSON reader
  private def ujson(s: String): String = {
    assert(s.count(_ == '{') == s.count(_ == '}'), s"unbalanced braces: $s")
    s
  }
}
