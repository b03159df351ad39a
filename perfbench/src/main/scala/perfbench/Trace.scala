package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.streaming.TopicIO
import scala.jdk.CollectionConverters._

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same time base as Spark's listener events and the load generator. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Everything the traced run observes from outside the engine: spans the
  * benchmark times itself, and Spark's public listener events (jobs,
  * stages, task metrics). Kept in memory and written once at the end. */
final class Recorder {
  /** Local property that tags every Spark job with the span tree it
    * belongs to (inherited by threads the caller starts). */
  val TraceKey = "perfbench.trace"
  val PhaseKey = "perfbench.phase"

  private val spans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobEnds = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val tasks = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Double]]()
  @volatile private var callbackNs = 0L

  def span(trace: String, layer: String, name: String, startMs: Double,
      endMs: Double, extra: Map[String, Any] = Map.empty): Unit =
    spans.add(Map("trace" -> trace, "layer" -> layer, "name" -> name,
      "start_ms" -> startMs, "end_ms" -> endMs) ++ extra)

  def timed[T](trace: String, layer: String, name: String,
      extra: Map[String, Any] = Map.empty)(body: => T): T = {
    val t0 = Clock.ms()
    try body finally span(trace, layer, name, t0, Clock.ms(), extra)
  }

  private def counted(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    callbackNs += System.nanoTime() - t0
  }

  // task metric slots per (stage, attempt)
  private val NTasks = 0; private val RunMs = 1; private val CpuNs = 2
  private val GcMs = 3; private val ShuffleW = 4; private val Spill = 5
  private val LaunchSum = 6

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = counted {
      val p = Option(e.properties)
      def prop(k: String): Any = p.flatMap(x => Option(x.getProperty(k))).orNull
      jobs.add(Map("job" -> e.jobId, "start_ms" -> e.time.toDouble,
        "trace" -> prop(TraceKey), "phase" -> prop(PhaseKey),
        "query_id" -> prop("sql.streaming.queryId"),
        "batch_id" -> prop("streaming.sql.batchId"),
        "stages" -> e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = counted {
      jobEnds.add(Map("job" -> e.jobId, "end_ms" -> e.time.toDouble))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      counted {
        val s = e.stageInfo
        stages.add(Map("stage" -> s.stageId, "attempt" -> s.attemptNumber(),
          "start_ms" -> s.submissionTime.map(_.toDouble).orNull,
          "end_ms" -> s.completionTime.map(_.toDouble).orNull))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = counted {
      val a = tasks.computeIfAbsent((e.stageId, e.stageAttemptId),
        _ => new Array[Double](7))
      val m = e.taskMetrics
      val i = e.taskInfo
      a.synchronized {
        a(NTasks) += 1
        if (m != null) {
          a(RunMs) += m.executorRunTime
          a(CpuNs) += m.executorCpuTime
          a(GcMs) += m.jvmGCTime
          a(ShuffleW) += m.shuffleWriteMetrics.bytesWritten
          a(Spill) += m.memoryBytesSpilled
        }
        a(LaunchSum) += i.launchTime
      }
    }
  }

  def install(spark: SparkSession): Unit =
    spark.sparkContext.addSparkListener(listener)

  /** Task sums per stage; `wait_ms` is Σ(launch − stage submission), filled
    * in once the stage's submission time is known. */
  private def stageRows: Seq[Map[String, Any]] = {
    val byStage = stages.asScala.map(s =>
      (s("stage").asInstanceOf[Int], s("attempt").asInstanceOf[Int]) -> s).toMap
    tasks.asScala.toSeq.map { case ((st, at), a) =>
      val s = byStage.getOrElse((st, at), Map("stage" -> st, "attempt" -> at))
      val submitted = s.get("start_ms").collect { case d: Double => d }
      s ++ Map("tasks" -> a(NTasks).toLong, "run_ms" -> a(RunMs),
        "cpu_ms" -> a(CpuNs) / 1e6, "gc_ms" -> a(GcMs),
        "shuffle_write_bytes" -> a(ShuffleW), "spill_bytes" -> a(Spill),
        "wait_ms" -> submitted.map(t => a(LaunchSum) - a(NTasks) * t).orNull)
    }
  }

  def dump(): Map[String, Any] = {
    val ends = jobEnds.asScala.map(e => e("job") -> e("end_ms")).toMap
    Map("spans" -> spans.asScala.toSeq,
      "jobs" -> jobs.asScala.toSeq.map(j =>
        j + ("end_ms" -> ends.getOrElse(j("job"), null))),
      "stages" -> stageRows,
      "callback_ms" -> callbackNs / 1e6)
  }
}

/** TopicIO decorator that times every sink write the engine makes, so the
  * topicio sink layer is measured from outside `graft.*`. */
final class TimedTopicIO(inner: TopicIO, @transient rec: Recorder)
    extends TopicIO {
  def read(spark: SparkSession, topic: String): DataFrame =
    inner.read(spark, topic)
  def readStream(spark: SparkSession, topic: String,
      options: Map[String, String]): DataFrame =
    inner.readStream(spark, topic, options)
  override def readExact(spark: SparkSession, topic: String): DataFrame =
    inner.readExact(spark, topic)
  override def readStreamExact(spark: SparkSession, topic: String,
      options: Map[String, String]): DataFrame =
    inner.readStreamExact(spark, topic, options)
  override def paceOptions(maxPollRecords: Int): Map[String, String] =
    inner.paceOptions(maxPollRecords)
  def maxOffset(spark: SparkSession, topic: String): Long =
    inner.maxOffset(spark, topic)
  override def provision(entity: String, channels: Iterable[String]): Unit =
    inner.provision(entity, channels)
  def append(df: DataFrame, topic: String): Unit =
    rec.timed("", "topicio", "emit", Map("topic" -> topic)) {
      inner.append(df, topic)
    }
  override def appendIdempotent(df: DataFrame, topic: String,
      token: String): Unit =
    rec.timed("", "topicio", "emit", Map("topic" -> topic, "token" -> token)) {
      inner.appendIdempotent(df, topic, token)
    }
}

/** Minimal JSON writer for the raw result file. */
object Json {
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  /** A value whose text is already JSON (Spark's progress JSON). */
  final case class Raw(json: String)

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case Raw(j) => j
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => quote(other.toString)
  }
}
