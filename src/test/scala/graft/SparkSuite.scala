package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Envelope
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Shared session base for all specs (one JVM-wide session via
  * getOrCreate); [[tmpDir]]s are deleted when the suite ends. */
trait SparkSuite extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .withExtensions(new graft.functions.GraftExtensions)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // bucketed-table specs write managed tables; keep them out of the repo
    .config("spark.sql.warehouse.dir", SparkSuite.warehouseDir)
    .getOrCreate()

  def sf0001 = "/root/testdata/sf0.001"

  def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** Spark jobs started on this thread while `body` ran, tagged by a local
    * property (other suites share the SparkContext concurrently). A
    * sentinel job posted after `body` marks the end: listener events
    * arrive in order, so once it is seen every job of `body` is. */
  def jobsOf(body: => Unit): Int = {
    val tag = "graft.spec.jobs"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag)))
          .foreach(seen.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "body")
      body
      sc.setLocalProperty(tag, "sentinel")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.currentTimeMillis() + 30000
      while (!seen.contains("sentinel") && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(seen.contains("sentinel"), "listener never saw the sentinel job")
      seen.asScala.count(_ == "body")
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }

  /** Build an envelope DataFrame from (key, value-string, timestamp). */
  def envelopes(entity: String, rows: Seq[(String, String, Timestamp)]): DataFrame = {
    val sess = spark
    import sess.implicits._
    rows.zipWithIndex.map { case ((k, v, t), i) =>
      Envelope(k.getBytes("UTF-8"), v.getBytes("UTF-8"),
        topic = entity, partition = 0, offset = i.toLong, timestamp = t,
        topicEntity = entity)
    }.toDF()
  }
}

object SparkSuite {
  /** ONE warehouse per test JVM, deleted when the JVM exits: the session
    * is JVM-wide and getOrCreate ignores a later builder's warehouse
    * conf, so a per-suite dir would go unused and outlive the run. */
  lazy val warehouseDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-warehouse")
    sys.addShutdownHook(TempDirs.deleteRecursively(d))
    d.toString
  }
}
