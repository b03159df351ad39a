package graft.operators

import graft.{QueryDef, Tables}
import graft.sources.Formats
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout operators (reference anchor: ziggurat delegates all
  * at-rest layout to Kafka topic/partition config — `doc/CONCEPTS.md` — so
  * this family is north-star surface: the levers a 100 TB lakehouse needs
  * beyond bucketing/partitioning, which live in [[graft.sources.Formats]]
  * with BucketingSpec/FormatsSpec pins).
  *
  * Both queries run a layout rewrite into a scratch dir and then answer an
  * aggregate over the REWRITTEN copy, oracle-checked against the original
  * table — layout must never change results, and the hash gate proves it.
  * The performance payoff (file-level locality, file-count reduction) is
  * pinned in FormatsSpec where file sets can be inspected directly.
  */
object LayoutOps {

  private def t(s: SparkSession, dir: String) = Tables(s, dir)

  /** This JVM's scratch base: one `graft-scratch*` temp dir under
    * `java.io.tmpdir`, made on first use and deleted by a shutdown hook.
    * A normal exit or SIGTERM leaves no scratch behind; a SIGKILLed JVM
    * leaves its base, as Spark does with its local dirs. No process
    * ever deletes another process's scratch. */
  private[operators] lazy val scratchBase: java.nio.file.Path = {
    val base = java.nio.file.Files.createTempDirectory("graft-scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      graft.FsTree.delete(base, bestEffort = true), "graft-scratch-cleanup"))
    base
  }

  /** Per-(prefix, sf-dir) FIXED scratch path under [[scratchBase]],
    * recreated (old contents deleted) on each invocation, so steady state
    * is ONE rewritten copy per query, not one per execution. Single-writer
    * per query, like every scratch consumer here (Verify/Bench run queries
    * sequentially); the returned frame reads the files lazily, so deletion
    * happens at the NEXT invocation, never under a live reader of the
    * current one. toHexString (not math.abs, which keeps Int.MinValue
    * negative) disambiguates the sf-dir hash. */
  private[operators] def scratch(prefix: String, dir: String): String = {
    val root = scratchBase.resolve(
      s"$prefix-${java.lang.Integer.toHexString(dir.hashCode)}")
    graft.FsTree.delete(root)
    java.nio.file.Files.createDirectories(root)
    root.toString
  }

  /** Z-order layout rewrite + 2-D range scan: events rewritten along a
    * Morton curve over (user_id, value), then a two-column range predicate
    * aggregated per event_type. At 100 TB the rewrite is a one-time layout
    * cost that turns every later (user × value)-windowed scan into a
    * skipping scan (row-group min/max stats exclude files the curve keeps
    * pure); the oracle proves the rewrite is content-preserving. */
  private def l01(s: SparkSession, dir: String): DataFrame = {
    val path = s"${scratch("graft-l01", dir)}/events_z"
    Formats.writeZOrdered(t(s, dir).events, path, Seq("user_id", "value"),
      bits = 4, outFiles = 32)
    s.read.parquet(path)
      .filter(col("user_id") < 10
        && col("value").between(20.0, 200.0))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100, 0).cast("long")).as("sum_cents"),
        min(col("event_id")).as("min_event"),
        max(col("event_id")).as("max_event"))
      .orderBy(col("event_type"))
  }

  private val l01Sql =
    """SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  min(event_id) AS min_event,
      |  max(event_id) AS max_event
      |FROM events
      |WHERE user_id < 10 AND value BETWEEN 20.0 AND 200.0
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Small-file compaction rewrite: events deliberately fragmented into
    * 48 part files (a streaming sink's typical debris), compacted back to
    * the byte-target file count, then aggregated per event_type from the
    * compacted copy. The oracle proves compaction is content-preserving;
    * FormatsSpec pins the file-count contract. */
  private def l02(s: SparkSession, dir: String): DataFrame = {
    val base = scratch("graft-l02", dir)
    t(s, dir).events.repartition(48).write.parquet(s"$base/frag")
    Formats.compact(s, s"$base/frag", s"$base/compacted")
    s.read.parquet(s"$base/compacted")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100, 0).cast("long")).as("sum_cents"),
        min(col("event_id")).as("min_event"),
        max(col("event_id")).as("max_event"))
      .orderBy(col("event_type"))
  }

  private val l02Sql =
    """SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  min(event_id) AS min_event,
      |  max(event_id) AS max_event
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Targeted key deletion: events laid out key-bucketed by user_id, a
    * small user set deleted via [[Formats.deleteKeys]] (only the buckets
    * those users hash into rewrite — TargetedDeleteSpec pins the
    * byte-identical untouched buckets), then the surviving table
    * aggregated. The oracle proves the delete removed exactly the
    * requested keys and nothing else — the correctness half of the
    * right-to-be-forgotten contract whose I/O half lives in the spec. */
  private def l03(s: SparkSession, dir: String): DataFrame = {
    val path = s"${scratch("graft-l03", dir)}/events_b"
    val ev = t(s, dir).events
    Formats.writeKeyBucketed(ev, path, "user_id", buckets = 8)
    val delKeys = ev.filter(col("user_id") < 3)
      .select(col("user_id")).distinct()
    Formats.deleteKeys(s, path, "user_id", delKeys, buckets = 8)
    s.read.parquet(path)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100, 0).cast("long")).as("sum_cents"),
        min(col("event_id")).as("min_event"),
        max(col("event_id")).as("max_event"))
      .orderBy(col("event_type"))
  }

  private val l03Sql =
    """SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  min(event_id) AS min_event,
      |  max(event_id) AS max_event
      |FROM events
      |WHERE user_id >= 3
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "l01_zorder_scan" -> QueryDef(l01, Some(l01Sql)),
    "l02_compaction_scan" -> QueryDef(l02, Some(l02Sql)),
    "l03_targeted_delete" -> QueryDef(l03, Some(l03Sql)),
  )
}
