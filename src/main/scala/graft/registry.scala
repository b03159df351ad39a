package graft

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** One declared operator/query in the engine's inventory (SURVEY.md §2).
  *
  * @param build   builds the result DataFrame from (session, sfDir). The
  *                output must be deterministic: explicit orderBy, floats
  *                rounded, computed ints cast to long (DuckDB BIGINT parity).
  * @param oracle  equivalent ANSI SQL the driver runs in DuckDB over the same
  *                parquet tables; None → driver does a rows-only check.
  * @param headline included in Bench's per-round benchmark set.
  */
final case class QueryDef(
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    headline: Boolean = false)

/** Loads the driver-generated TPC-H-ish corpus (TESTDATA.md) for one scale
  * factor. Plain parquet reads — Catalyst handles filter pushdown and column
  * pruning, so every query should show PushedFilters/ReadSchema at the scan.
  *
  * Each read goes through the session's table catalog ([[Tables.read]]):
  * the first read of a path in a session infers its schema (one Spark job),
  * every later read of the same unchanged files passes that schema in and
  * runs no job. `events` sets `spark.sql.legacy.parquet.nanosAsLong` when
  * it resolves, not on every call.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def p(name: String): DataFrame = Tables.read(spark, s"$dir/$name.parquet")
  def region: DataFrame = p("region")
  def nation: DataFrame = p("nation")
  def customer: DataFrame = p("customer")
  def supplier: DataFrame = p("supplier")
  def part: DataFrame = p("part")
  def orders: DataFrame = p("orders")
  def lineitem: DataFrame = p("lineitem")
  /** events.parquet has shipped `ts` as TIMESTAMP(NANOS) in some testdata
    * generations and timestamp[us] in others, so branch on the SCANNED
    * (resolved) schema rather than assuming either:
    *   - int64 nanos (via nanosAsLong, which Spark 4 needs to read NANOS
    *     at all) → truncate to micros, exactly what DuckDB does on load;
    *   - timestamp[us] without UTC flag → Spark reads TIMESTAMP_NTZ; cast
    *     to session-zoned TimestampType (session TZ is pinned UTC in
    *     Verify/Bench, so the cast is value-preserving and keeps every
    *     downstream window/watermark op on the same type as before).
    *
    * The nanosAsLong flag is SESSION-GLOBAL and deliberately not restored:
    * it is read at scan-planning time (actions run long after this
    * accessor), so a set-and-restore would plan later executions with it
    * OFF and fail on nanos files. It is set when `events` resolves, and a
    * session that has since turned it off resolves again. Consequence a
    * caller must know: any OTHER nanos-timestamp parquet read on this
    * session also surfaces as LongType from then on (Spark offers no
    * per-read form of the flag). */
  def events: DataFrame = {
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val df = Tables.read(spark, s"$dir/events.parquet",
      Map("spark.sql.legacy.parquet.nanosAsLong" -> "true"))
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", df("ts").cast(TimestampType))
      case _                => df
    }
  }
  def documents: DataFrame = p("documents")
  def embeddings: DataFrame = p("embeddings")

  /** documents/embeddings are small files that scan as one partition
    * locally, which would serialize the explode/hash-heavy per-row compute
    * of the dedup/text/similarity operators onto one thread. On a real
    * cluster the input splits provide the spread; here an explicit
    * round-robin repartition restores it. Cost: one tiny shuffle of the
    * source rows (never of the exploded rows).
    *
    * The partition count is EXPLICIT (defaultParallelism = the session's
    * cores): a bare `repartition(col)` is advisory to AQE, which sizes
    * post-shuffle partitions by BYTES and coalesces a few-MB corpus back
    * to one partition — re-serializing exactly the compute-heavy stage
    * the spread exists for (p21's decontamination predicate measured 10×
    * slower under the coalesce). Compute-bound stages must be sized by
    * CPU, not bytes; the explicit count pins that. */
  def documentsSpread: DataFrame =
    documents.repartition(spark.sparkContext.defaultParallelism,
      col("doc_id"))
  def embeddingsSpread: DataFrame =
    embeddings.repartition(spark.sparkContext.defaultParallelism,
      col("vec_id"))
  private def col(n: String) = org.apache.spark.sql.functions.col(n)
}

/** The per-session table catalog: each table path maps to the schema
  * inferred for it, keyed by its data files' (name, length, modification
  * time) from a FileSystem listing that runs no Spark job. It holds
  * metadata only — never rows, a DataFrame or a file index — so every read
  * still builds an independent relation (a self-join gets two). Inference
  * depends on session confs, so each session (a `newSession()` child too)
  * has its own entries; a collected session drops them. Within a session,
  * a later conf change is seen only for the confs a read names (`events`'
  * nanosAsLong).
  *
  * Like Spark's own file-status cache, a rewrite that keeps every file's
  * name, length and mtime goes unseen.
  */
object Tables {
  private final case class Resolved(files: Seq[(String, Long, Long)],
      schema: StructType)

  private val catalogs = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, Resolved]]())

  /** Reads parquet `path`, inferring its schema unless this session has
    * resolved the same files before and still holds every `confs` value.
    * `confs` are set on the session when it resolves. A path the listing
    * cannot find is read uncached, so it fails exactly as
    * `spark.read.parquet` does. */
  private[graft] def read(spark: SparkSession, path: String,
      confs: Map[String, String] = Map.empty): DataFrame = {
    val catalog = catalogs.computeIfAbsent(spark, _ => new ConcurrentHashMap())
    val files = listing(spark, path)
    val cached = files.flatMap(f => Option(catalog.get(path)).filter(_.files == f))
      .filter(_ => confs.forall { case (k, v) => spark.conf.getOption(k).contains(v) })
    cached match {
      case Some(r) => spark.read.schema(r.schema).parquet(path)
      case None =>
        confs.foreach { case (k, v) => spark.conf.set(k, v) }
        val df = spark.read.parquet(path)
        files.foreach(f => catalog.put(path, Resolved(f, df.schema)))
        df
    }
  }

  /** (name, length, mtime) of every file under `path`, sorted; None when
    * `path` does not exist. */
  private def listing(spark: SparkSession, path: String)
      : Option[Seq[(String, Long, Long)]] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(leaves)
      else Seq(st)
    try Some(leaves(fs.getFileStatus(root))
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted)
    catch { case _: FileNotFoundException => None }
  }
}
