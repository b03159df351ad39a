package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Envelope
import java.sql.Timestamp

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
