package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming heavy hitters: one Misra-Gries sketch per group in the state
  * store, cumulative across micro-batches. Pins the two properties the
  * batch FreqItemsAggSpec cannot: (a) the sketch state MERGES across
  * triggers (a key's count accumulated in batch 1 still counts toward
  * heaviness after batch 3), and (b) state stays at sketch size while the
  * distinct-key universe is far larger than `maxMapSize`. */
class HeavyHittersStreamSpec extends SparkSuite {

  test("a key heavy only ACROSS batches survives eviction pressure from " +
      "thousands of distinct light keys, with sketch-bounded state") {
    val sess = spark
    import sess.implicits._
    implicit val ctx = sess.sqlContext
    val in = MemoryStream[HhEv]
    val out = Pipeline.streamingHeavyHitters("key", "group",
      maxMapSize = 64)(in.toDF())
    val name = s"hh_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("update").start()
    try {
      // 3 triggers; "hot" appears 200× per batch while 3000 distinct
      // one-off keys (1000 fresh per batch — 47× the 64-entry sketch)
      // churn through. True counts: hot = 600 of 3600 total; max error
      // for a 64-entry Misra-Gries over N=3600 is well under 600, so the
      // guarantee requires hot to be present in the final map.
      for (b <- 0 until 3) {
        in.addData((0 until 200).map(_ => HhEv("g", "hot")) ++
          (0 until 1000).map(i => HhEv("g", s"light-$b-$i")): _*)
        q.processAllAvailable()
      }
      val rows = spark.table(name).filter($"group" === "g")
        .select($"freq").collect()
      val last = rows.last.getMap[String, Long](0)
      assert(last.contains("hot"),
        s"hot key evicted despite 600 true occurrences: ${last.keys.take(10)}")
      // estimate never undercounts by more than the error bound, and the
      // cross-batch state actually accumulated (a per-batch-only sketch
      // would report ≤ 200)
      assert(last("hot") >= 200L,
        s"hot estimate ${last("hot")} shows state did not merge across triggers")
      // the emitted candidate map is sketch-bounded, not universe-sized
      assert(last.size <= 3 * 64,
        s"candidate map size ${last.size} suggests unbounded state")
      // bounded state in the store itself: far fewer state rows than the
      // 3001-key universe (one sketch per GROUP)
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows <= 2, s"state rows $stateRows — expected one per group")
    } finally q.stop()
  }

  test("state-store health gauges (rows/updated/dropped-late/memory) " +
      "surface through the metrics listener per stateful operator") {
    val sess = spark
    import sess.implicits._
    implicit val ctx = sess.sqlContext
    val reg = new MetricsRegistry
    val in = MemoryStream[HhEv]
    val name = s"hhm_${System.nanoTime()}"
    val q = Pipeline.streamingHeavyHitters("key", "group", maxMapSize = 8)(
      in.toDF())
      .writeStream.format("memory").queryName(name)
      .outputMode("update").start()
    try {
      in.addData(HhEv("g", "a"), HhEv("g", "b"), HhEv("h", "a"))
      q.processAllAvailable()
      reg.recordProgress(q.lastProgress)
      val gs = reg.snapshot().filter(_._1.contains(".state."))
      assert(gs.keys.exists(_.endsWith("rows_total")), s"got ${gs.keys}")
      assert(gs.collect {
        case (k, v) if k.endsWith("rows_total") => v }.sum >= 2.0,
        s"expected ≥2 state rows (groups g, h): $gs")
      assert(gs.keys.exists(_.endsWith("dropped_late")) &&
        gs.keys.exists(_.endsWith("memory_bytes")), s"got ${gs.keys}")
    } finally q.stop()
  }
}

/** Top-level for codegen'd encoders — a spec-nested case class closes over
  * the suite instance and breaks expression codegen (same hoist as
  * PlateauEv in StreamStateBoundsSpec). */
case class HhEv(group: String, key: String)
