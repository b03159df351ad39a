package graft.sources

import graft.streaming.Envelope
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Batch layout and interchange helpers beyond the Kafka/parquet
  * transports: schema-evolution reads, JSONL quarantine, z-order and
  * key-bucketed layouts, compaction, targeted deletes. A plain format
  * read or write is one Spark reader/writer chain and is spelled inline
  * at its call site.
  *
  * Envelope interchange: binary columns (key/value) don't survive CSV/JSON
  * natively, so export base64-encodes them and import decodes — the
  * standard dump/restore path for topic logs.
  */
object Formats {

  /** Schema-evolution read across mixed parquet generations — the
    * lakehouse drift path (a long-lived dataset accumulates files written
    * under successive schemas, e.g. a timestamp encoding switch).
    * `mergeSchema` unions every file's footer schema at planning time:
    * columns absent in old generations read as null (additive evolution — the
    * only kind this engine accepts; type CHANGES of an existing column are
    * rejected by the merge, loudly, which is the correct contract). Cost
    * model: schema merge reads footers only, not data — but it is one footer
    * per file, so at 100 TB pair it with compaction (`compact`) or pass
    * `pinnedSchema` (the production default: evolve the schema in the
    * catalog, read with it explicitly — zero footer sweep, still
    * null-backfills). Filter pushdown and column pruning survive either
    * way (FormatsSpec pins PushedFilters on a merged read). */
  def readEvolved(spark: SparkSession, path: String,
      pinnedSchema: Option[StructType] = None): DataFrame =
    pinnedSchema match {
      case Some(sc) => spark.read.schema(sc).parquet(path)
      case None => spark.read.option("mergeSchema", "true").parquet(path)
    }

  /** JSONL ingest with corrupt-line quarantine — the raw-corpus intake
    * discipline (LLM corpora ship as JSONL): a malformed line must neither
    * kill the 100 TB read nor silently vanish. Returns (good, quarantine):
    * good rows carry the schema's columns; quarantined rows keep the raw
    * line verbatim for audit/repair (E9's deser-failure DLQ contract,
    * transposed to batch files). Same split shape as
    * `Middleware.splitCorrupt`: read as text, `from_json` map-side, route
    * on parse-null — no caching restriction, both sides pure scans.
    * A line of valid JSON with missing fields parses to nulls (kept,
    * like any sparse record); only unparseable lines quarantine. */
  def readJsonLinesQuarantine(spark: SparkSession, path: String,
      schema: StructType): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.{col, from_json}
    import scala.jdk.CollectionConverters._
    // from_json yields an all-null row (not a null struct) for malformed
    // input, so routing keys off an explicit corrupt-record slot in the
    // parse schema — set exactly when the line failed to parse
    val cr = "_graft_corrupt"
    val withCr = StructType(schema.fields :+ StructField(cr, StringType))
    val parsed = spark.read.text(path)
      .withColumn("j", from_json(col("value"), withCr,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> cr).asJava))
    (parsed.filter(col(s"j.$cr").isNull)
       .select(schema.fieldNames.map(f => col(s"j.$f")): _*),
      parsed.filter(col(s"j.$cr").isNotNull)
        .select(col("value").as("raw_line")))
  }

  /** Z-order (Morton-curve) layout — the MULTI-column data-skipping lever.
    * Partitioning prunes on one directory column and bucketing co-locates
    * one join key; a 100 TB scan filtered on TWO ranged columns (e.g.
    * user × time, language × quality) needs rows close in both dimensions
    * to be close in the file layout, so min/max stats (parquet row-group
    * footers; file-level stats in table formats) exclude most of the data.
    *
    * Each column is quantile-binned into 2^bits ranks (boundaries from one
    * `approxQuantile` pass — quantile, not uniform, so skew can't collapse
    * the curve), the ranks' bits are interleaved into a Morton key, and the
    * rows are range-partitioned + sorted by it. Every step after the
    * boundary pass is per-row expression math; the only data movement is
    * the final range repartition the layout exists to impose. `outFiles`
    * plays the role file-size targets play at scale (files ≈ size/128 MB).
    *
    * FormatsSpec pins the payoff: a 2-D range predicate touches a small
    * fraction of z-ordered files but nearly all single-column-sorted ones. */
  def writeZOrdered(df: DataFrame, path: String, cols: Seq[String],
      bits: Int = 4, outFiles: Int = 32): Unit = {
    require(cols.nonEmpty && bits >= 1 && bits <= 8)
    // the Morton key is one Long: shift amounts reach
    // (bits-1)*cols+bits-ish, and Long shifts are mod 64 — past 64 the
    // interleave silently WRAPS, colliding bits across dimensions; the
    // write would succeed and look healthy while the co-location payoff
    // the layout exists for is destroyed
    require(bits * cols.length <= 64,
      s"bits * cols (${bits * cols.length}) must be <= 64: the z-key " +
        "is a single Long — reduce bits or split the dimensions")
    val n = 1 << bits
    val probs = (1 until n).map(_.toDouble / n).toArray
    // ONE quantile job for every z-order column (the multi-column
    // approxQuantile overload) — the per-column spelling scanned the
    // input once per column
    val allBounds = df.stat.approxQuantile(cols.toArray, probs, 0.001)
    val bins: Seq[org.apache.spark.sql.Column] =
      cols.zip(allBounds.toSeq).map { case (c, raw) =>
        val bounds = raw.distinct.sorted
        bounds.foldLeft(lit(0)) { (acc, b) =>
          acc + when(col(c).cast("double") > b, 1).otherwise(0)
        }
      }
    val z = (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      bins.zipWithIndex.foldLeft(acc) { case (a, (bin, j)) =>
        a + (shiftright(bin.cast("long"), i).bitwiseAND(1L)
          * (1L << (i.toLong * cols.length + j)))
      }
    }
    df.withColumn("__z", z)
      .repartitionByRange(outFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Small-file compaction — the operational answer to streaming sinks and
    * fine-grained partitions fragmenting a table into metadata-bound scans
    * (at 100 TB, a million 1 MB files costs more in listing + task launch
    * than the I/O itself). Sums the current part-file bytes, computes the
    * file count that hits `targetFileBytes`, and rewrites into `outPath`
    * (never in place — the swap is the caller's atomic rename/pointer
    * flip, same discipline as UpsertSink's versioned dirs). Returns
    * (filesBefore, filesAfter). */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      targetFileBytes: Long = 128L << 20): (Int, Int) = {
    val fs = new org.apache.hadoop.fs.Path(inPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = fs.listStatus(new org.apache.hadoop.fs.Path(inPath))
    // Hive-partitioned layouts (key=value subdirs) must be rejected
    // loudly, not silently flattened: the non-recursive listing sees no
    // part- files (totalBytes=0 → ONE output file), and the blind
    // read+rewrite would funnel the whole table through one task AND
    // fold the partition columns into data columns, destroying pruning.
    // Compact each partition directory individually instead.
    val partitionDirs = entries
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
    require(partitionDirs.isEmpty,
      s"'$inPath' is Hive-partitioned (${partitionDirs.head.getPath.getName}" +
        ", ...): compact each partition directory separately — a blind " +
        "rewrite would collapse the partition layout")
    val parts = entries
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
    val totalBytes = parts.map(_.getLen).sum
    val nOut = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    spark.read.parquet(inPath)
      .repartition(nOut)
      .write.mode("overwrite").parquet(outPath)
    val after = fs.listStatus(new org.apache.hadoop.fs.Path(outPath))
      .count(s => s.isFile && s.getPath.getName.startsWith("part-"))
    (parts.length, after)
  }

  /** Key-hash-bucketed directory layout (`__bucket=N/` partition dirs,
    * bucket = pmod(murmur3(key), buckets)) — the layout that makes
    * TARGETED point deletes and point lookups touch a constant fraction
    * of a 100 TB table instead of all of it. Same discipline as
    * UpsertSink's bucketed state, for plain at-rest tables. */
  def writeKeyBucketed(df: DataFrame, path: String, key: String,
      buckets: Int): Unit =
    df.withColumn("__bucket", pmod(hash(col(key)), lit(buckets)))
      .write.mode("overwrite").partitionBy("__bucket").parquet(path)

  /** Targeted key deletion (the right-to-be-forgotten primitive): remove
    * every row whose `key` appears in `keys`, rewriting ONLY the bucket
    * directories those keys hash into — untouched buckets keep their
    * files byte-identical (TargetedDeleteSpec pins this), so a delete of
    * k keys costs O(k/buckets · table) I/O, not O(table).
    *
    * Mechanics: the delete set (small — broadcast) maps to its bucket ids
    * (driver sees only the id list); affected buckets are anti-joined and
    * rewritten via dynamic partition overwrite. A bucket whose every row
    * is deleted produces no output partition, so its directory is removed
    * explicitly. The cleaned frame is localCheckpoint-ed first — Spark
    * refuses to overwrite a path an active plan still reads from.
    * Returns the number of rows deleted. */
  def deleteKeys(spark: SparkSession, path: String, key: String,
      keys: DataFrame, buckets: Int): Long = {
    val keyed = keys.select(col(key)).distinct()
      .withColumn("__bucket", pmod(hash(col(key)), lit(buckets)))
      .cache()
    val hit = keyed.select(col("__bucket")).distinct().collect()
      .map(_.getInt(0))
    if (hit.isEmpty) { keyed.unpersist(); return 0L }
    val affected = spark.read.parquet(path)
      .filter(col("__bucket").isin(hit.map(Int.box).toIndexedSeq: _*))
    val before = affected.count()
    val cleaned = affected
      .join(broadcast(keyed.select(col(key))), Seq(key), "left_anti")
      .localCheckpoint(true)
    val after = cleaned.count()
    cleaned.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__bucket").parquet(path)
    val remaining = cleaned.select(col("__bucket")).distinct().collect()
      .map(_.getInt(0)).toSet
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    hit.filterNot(remaining).foreach { b =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/__bucket=$b"), true)
    }
    keyed.unpersist()
    before - after
  }

  /** Envelope topic log → portable JSON-lines dump (binary → base64). */
  def exportEnvelopes(env: DataFrame, path: String): Unit =
    env
      .withColumn("key", base64(col("key")))
      .withColumn("value", base64(col("value")))
      .write.mode("overwrite").json(path)

  /** Portable dump → envelope rows (base64 → binary). */
  def importEnvelopes(spark: SparkSession, path: String): DataFrame = {
    val textual = StructType(Envelope.schema.map {
      case f if f.name == "key" || f.name == "value" =>
        f.copy(dataType = org.apache.spark.sql.types.StringType)
      case f => f
    })
    spark.read.schema(textual).json(path)
      .withColumn("key", unbase64(col("key")))
      .withColumn("value", unbase64(col("value")))
      .select(Envelope.schema.fieldNames.map(col).toIndexedSeq: _*)
  }
}
