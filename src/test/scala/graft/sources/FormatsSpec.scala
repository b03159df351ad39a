package graft.sources

import graft.{SparkSuite, Tables}
import org.apache.spark.sql.functions._

class FormatsSpec extends SparkSuite {

  test("schema evolution: merged read over two parquet generations " +
      "null-backfills the old files, pinned-schema read agrees, and " +
      "pushdown survives the merge") {
    val base = tmpDir("evolve")
    val docs = Tables(spark, sf0001).documents
    // generation 1: three columns; generation 2: adds quality
    docs.select("doc_id", "lang", "n_chars")
      .write.parquet(s"$base/d/gen=1")
    docs.select(col("doc_id"), col("lang"), col("n_chars"),
        (col("n_chars") % 100).as("quality"))
      .write.parquet(s"$base/d/gen=2")
    val merged = Formats.readEvolved(spark, s"$base/d")
    assert(merged.columns.contains("quality"))
    val n = docs.count()
    assert(merged.count() == 2 * n)
    assert(merged.filter(col("quality").isNull).count() == n,
      "gen-1 rows must null-backfill the evolved column")
    // pinned-schema read (no footer sweep) sees the same frame
    val pinned = Formats.readEvolved(spark, s"$base/d",
      Some(merged.schema))
    assert(pinned.exceptAll(merged).isEmpty && merged.exceptAll(pinned).isEmpty)
    // pushdown survives the merged read
    val plan = merged.filter(col("n_chars") > 500)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(n_chars), " +
      "GreaterThan(n_chars,500)]"), s"pushdown missing:\n$plan")
  }

  test("JSONL quarantine: malformed lines route to the quarantine side " +
      "with the raw line verbatim; sparse-but-valid JSON stays good") {
    import org.apache.spark.sql.types._
    val base = tmpDir("jsonl-quarantine")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$base/corpus.jsonl"),
      """{"doc_id": 1, "text": "alpha"}
        |{"doc_id": 2}
        |this line is not json at all
        |{"doc_id": 3, "text": "gamma"}""".stripMargin)
    val (good, bad) = Formats.readJsonLinesQuarantine(
      spark, s"$base/corpus.jsonl", schema)
    val g = good.collect().map(r =>
      (r.getLong(0), Option(r.getString(1)))).toSet
    assert(g == Set((1L, Some("alpha")), (2L, None), (3L, Some("gamma"))))
    assert(bad.collect().map(_.getString(0)).toSeq ==
      Seq("this line is not json at all"))
  }

  test("envelope export/import preserves binary payloads via base64") {
    val env = envelopes("app", Seq(
      ("k1", "payload-1", ts("2024-01-01 00:00:00")),
      ("k2", "payload-é中", ts("2024-01-02 00:00:00"))))
    val base = tmpDir("envdump")
    Formats.exportEnvelopes(env, s"$base/dump")
    val back = Formats.importEnvelopes(spark, s"$base/dump")
    assert(back.count() == 2)
    val vals = back.select(col("value").cast("string")).collect()
      .map(_.getString(0)).sorted
    assert(vals.toSeq == Seq("payload-1", "payload-é中"))
    assert(back.schema == graft.streaming.Envelope.schema)
  }

  test("z-order layout keeps BOTH filter dimensions file-local; a " +
      "single-column sort is defeated by the other dimension's probe") {
    val ev = spark.read.parquet(s"$sf0001/events.parquet")
    val base = tmpDir("zorder")
    Formats.writeZOrdered(ev, s"$base/z", Seq("user_id", "value"),
      bits = 4, outFiles = 16)
    ev.repartitionByRange(16, col("user_id"))
      .sortWithinPartitions("user_id")
      .write.parquet(s"$base/byuser")
    // quantile probes so the test tracks the data, not fixed constants:
    // ~12% of users / ~10% of values (2 of 16 z-bins each)
    val Array(uHi) = ev.stat.approxQuantile("user_id", Array(0.12), 0.0)
    val Array(vLo, vHi) =
      ev.stat.approxQuantile("value", Array(0.50, 0.60), 0.0)
    def filesTouched(path: String, cond: org.apache.spark.sql.Column) =
      spark.read.parquet(path).filter(cond)
        .select(input_file_name()).distinct().count()
    val zTotal = spark.read.parquet(s"$base/z").inputFiles.length.toLong
    val uTotal = spark.read.parquet(s"$base/byuser").inputFiles.length.toLong
    val userProbe = col("user_id") <= uHi
    val valueProbe = col("value").between(vLo, vHi)
    // Morton top bits alternate dimensions, so a 2-bin 1-D probe matches
    // ≤ 8 of 16 4-bit prefixes — every probe dimension skips files
    assert(filesTouched(s"$base/z", userProbe) <= zTotal * 10 / 16,
      "z-layout: user probe should skip files")
    assert(filesTouched(s"$base/z", valueProbe) <= zTotal * 10 / 16,
      "z-layout: value probe should skip files")
    // the single-column layout spreads every value band across all files
    assert(filesTouched(s"$base/byuser", valueProbe) >= uTotal * 14 / 16,
      "user-sorted layout should be defeated by the value probe")
    // layout never changes content
    val z = spark.read.parquet(s"$base/z")
    assert(z.exceptAll(ev).isEmpty && ev.exceptAll(z).isEmpty)
  }

  test("compaction rewrites small-file debris to the byte-target count, " +
      "content-identical") {
    val ev = spark.read.parquet(s"$sf0001/events.parquet")
    val base = tmpDir("compact")
    ev.repartition(48).write.parquet(s"$base/frag")
    val (before, after) =
      Formats.compact(spark, s"$base/frag", s"$base/out", 1L << 30)
    assert(before == 48, s"fragmented layout should have 48 files, got $before")
    assert(after == 1, s"1 GiB target should compact to one file, got $after")
    val back = spark.read.parquet(s"$base/out")
    assert(back.exceptAll(ev).isEmpty && ev.exceptAll(back).isEmpty)
  }

  test("compaction REJECTS a Hive-partitioned input loudly: the blind " +
      "rewrite computed totalBytes=0 (non-recursive listing sees only " +
      "partition dirs), funneled the whole table into ONE file, and " +
      "folded the partition columns into data columns — pruning destroyed " +
      "with a healthy-looking (0, 1) return") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val base = tmpDir("compactpart")
    docs.write.partitionBy("lang").parquet(s"$base/bylang")
    val e = intercept[IllegalArgumentException](
      Formats.compact(spark, s"$base/bylang", s"$base/out"))
    assert(e.getMessage.contains("Hive-partitioned"), e.getMessage)
    // per-partition compaction is the documented path, and still works
    val one = spark.read.parquet(s"$base/bylang").select("lang")
      .distinct().head.getString(0)
    val (_, after) = Formats.compact(spark,
      s"$base/bylang/lang=$one", s"$base/out1", 1L << 30)
    assert(after == 1)
  }

  test("z-order rejects bits × cols > 64 at construction: Long shifts " +
      "are mod 64, so past it the Morton interleave silently wraps and " +
      "collides bits across dimensions — the write would look healthy " +
      "while the co-location payoff is destroyed") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(10)
    val cols9 = Seq.fill(9)("doc_id")
    val e = intercept[IllegalArgumentException](
      Formats.writeZOrdered(docs, tmpDir("zbad"), cols9, bits = 8))
    assert(e.getMessage.contains("<= 64"), e.getMessage)
    // the boundary itself is fine: 8 cols × 8 bits = 64
    Formats.writeZOrdered(docs, s"${tmpDir("zok")}/z",
      Seq.fill(8)("doc_id"), bits = 8, outFiles = 1)
  }

  test("partitioned layout prunes at planning: a lang filter reads only " +
      "that partition's files") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val base = tmpDir("partlayout")
    docs.write.partitionBy("lang").parquet(s"$base/bylang")
    val langs = docs.select("lang").distinct().count()
    assert(langs > 1, "need several partitions for the pruning proof")
    val q = spark.read.parquet(s"$base/bylang").filter(col("lang") === "en")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      s"no partition filter in scan:\n$plan")
    // only the lang=en directory's file is read (inputFiles reports the
    // pre-pruning relation, so probe the scan's executed metrics instead)
    val scans = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val filesRead = scans.map(_.metrics("numFiles").value).sum
    val totalFiles = spark.read.parquet(s"$base/bylang").inputFiles.length
    assert(filesRead < totalFiles,
      s"pruning failed: read $filesRead of $totalFiles files")
    // and the pruned read returns exactly the filtered rows
    assert(q.count() == docs.filter(col("lang") === "en").count())
  }
}
