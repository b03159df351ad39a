package graft.streaming

import org.apache.spark.sql.streaming.StreamingQueryProgress
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import scala.jdk.CollectionConverters._

/** Metrics facade (O4, metrics.clj:40-150): counters + gauges fed from two
  * directions — explicit increments from the dispatcher (per-disposition
  * counts) and progress harvested by [[recordProgress]].
  * Pluggable reporters (Prometheus/StatsD in the reference) reduce to a
  * snapshot() any exporter can scrape; the management HTTP layer exposes it
  * as JSON.
  */
final class MetricsRegistry {
  private val counters = new ConcurrentHashMap[String, LongAdder]()
  private val gauges = new ConcurrentHashMap[String, Double]()
  private val sinks =
    new java.util.concurrent.CopyOnWriteArrayList[MetricsSink]()

  /** Registers a push backend (statsd, a test fake…); every subsequent
    * increment/gauge/timing fans out to it. Mirrors the reference's
    * pluggable `[:ziggurat :metrics]` implementation slot
    * (metrics.clj:40-64 `get-metrics-implementor`). */
  def addSink(sink: MetricsSink): Unit = sinks.add(sink)

  /** Clean shutdown of every registered backend (metrics_interface.clj
    * `terminate`); called from the engine's drain path. */
  def terminateSinks(): Unit = {
    sinks.forEach(_.terminate())
    sinks.clear()
  }

  /** Dotted name → (namespace, metric) — the split the MetricsProtocol's
    * update-counter/update-timing signatures expect. */
  private def split(name: String): (String, String) = {
    val i = name.lastIndexOf('.')
    if (i < 0) ("", name) else (name.substring(0, i), name.substring(i + 1))
  }

  def increment(name: String, delta: Long = 1L,
      tags: Map[String, String] = Map.empty): Unit = {
    counters.computeIfAbsent(name, _ => new LongAdder).add(delta)
    if (!sinks.isEmpty) {
      val (ns, m) = split(name)
      sinks.forEach(_.updateCounter(ns, m, tags, delta))
    }
  }

  def gauge(name: String, value: Double,
      tags: Map[String, String] = Map.empty): Unit = {
    gauges.put(name, value)
    if (!sinks.isEmpty) {
      val (ns, m) = split(name)
      sinks.forEach(_.updateGauge(ns, m, tags, value))
    }
  }

  /** Timing (statsd `|ms`) — recorded locally as a last-value gauge so the
    * JSON/Prometheus snapshots see it, pushed to sinks as a true timing
    * sample (metrics_interface.clj `update-timing`). */
  def timing(name: String, valueMs: Long,
      tags: Map[String, String] = Map.empty): Unit = {
    gauges.put(name, valueMs.toDouble)
    if (!sinks.isEmpty) {
      val (ns, m) = split(name)
      sinks.forEach(_.updateTiming(ns, m, tags, valueMs))
    }
  }

  def count(name: String): Long =
    Option(counters.get(name)).map(_.sum).getOrElse(0L)

  def snapshot(): Map[String, Double] = {
    val cs = counters.asScala.map { case (k, v) => k -> v.sum.toDouble }.toMap
    // a gauge/timing sharing a counter's name must not SHADOW the
    // monotonic count in the merged view (the plain `++` dropped the
    // counter silently, and the two export paths — snapshot vs
    // typedSnapshot — disagreed for the same name): on collision the
    // gauge is exported under "<name>.gauge". The rename PROBES for a
    // free key (appending .2, .3, …) instead of assuming "<name>.gauge"
    // is free — a counter (or another gauge) already registered under
    // that literal name would otherwise be overwritten, recreating the
    // silent shadowing one level deeper. Gauges are placed in sorted
    // name order so the probed layout is deterministic.
    val out = scala.collection.mutable.LinkedHashMap[String, Double]()
    gauges.asScala.toSeq.sortBy(_._1).foreach { case (k, v) =>
      def taken(n: String) = cs.contains(n) || out.contains(n)
      val key =
        if (!taken(k)) k
        else {
          var c = s"$k.gauge"
          var i = 2
          while (taken(c)) { c = s"$k.gauge.$i"; i += 1 }
          c
        }
      out(key) = v
    }
    cs ++ out
  }

  /** (counters, gauges) separately — exporters that distinguish metric
    * types (Prometheus TYPE lines) need the split. */
  def typedSnapshot(): (Map[String, Long], Map[String, Double]) =
    (counters.asScala.map { case (k, v) => k -> v.sum }.toMap,
      gauges.asScala.toMap)

  def recordDispatch(entity: String, c: Dispatch.Counts): Unit = {
    // topic_entity rides as a tag for push backends, matching the
    // reference's {:topic_entity ..} tag map (metrics.clj:79-96)
    val tags = Map("topic_entity" -> entity)
    increment(s"$entity.message.success", c.success, tags)
    increment(s"$entity.message.skip", c.skip, tags)
    increment(s"$entity.message.retry", c.retried, tags)
    increment(s"$entity.message.dead_letter", c.deadLettered, tags)
    increment(s"$entity.message.channel", c.toChannels, tags)
    // the failure signal for handler returns outside the recognized
    // codes (typo'd channel, null, garbage) — those records also count
    // under retry/dead_letter as they take the catch-all cycle, so
    // without this counter a misbehaving handler was indistinguishable
    // from genuine processing failures
    increment(s"$entity.message.invalid", c.invalid, tags)
  }

  /** Harvests one trigger's progress: its wall time as
    * `<query>.trigger`, `observe()` metrics (Pipeline.observeReads) as
    * gauges, and state-store gauges per stateful operator. The engine's
    * listener calls it for the engine's own queries only. */
  def recordProgress(p: StreamingQueryProgress): Unit = {
    // per-trigger wall time as a timing sample — the engine analogue of
    // the reference's handler execution timing (metrics.clj timing
    // around the mapper invocation)
    val qname = Option(p.name).getOrElse(p.id.toString)
    Option(p.durationMs.get("triggerExecution"))
      .foreach(ms => timing(s"$qname.trigger", ms.longValue()))
    p.observedMetrics.asScala.foreach { case (name, row) =>
      row.schema.fieldNames.foreach { f =>
        row.getAs[Any](f) match {
          case n: Number => gauge(s"$name.$f", n.doubleValue())
          case _ => ()
        }
      }
    }
    // State-store health per stateful operator — the gauges an operator
    // watches to see that watermarks are actually bounding state (the
    // production complement to the specs' plateau assertions) and how
    // much late data the watermark is dropping. Keyed by operator name
    // so a join chain's stages are distinguishable.
    p.stateOperators.foreach { so =>
      val op = Option(so.operatorName).getOrElse("state")
      gauge(s"$qname.state.$op.rows_total", so.numRowsTotal.toDouble)
      gauge(s"$qname.state.$op.rows_updated", so.numRowsUpdated.toDouble)
      gauge(s"$qname.state.$op.dropped_late",
        so.numRowsDroppedByWatermark.toDouble)
      gauge(s"$qname.state.$op.memory_bytes", so.memoryUsedBytes.toDouble)
    }
  }
}
