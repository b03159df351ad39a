package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array_contains, arrays_overlap, col, expr}
import graft.functions.GraftFunctions.hamming64
import graft.plans.ScaleGuards
import scala.util.{Failure, Success, Try}

/** Refactor check: dumps, for every `SparkEntry.registry` entry, its name,
  * its oracle SQL verbatim and its optimized logical plan, so two builds
  * can be diffed query by query. A refactor that claims to change no query
  * must leave this file byte-identical.
  *
  * The plan is normalised so that two runs of the same code agree:
  *   - expression ids (`#123`, `#123L`) become `#n`;
  *   - physical plan ids inside cached relations (`plan_id=123`) become
  *     `plan_id=n`;
  *   - JVM lambda class names and identity hashes
  *     (`$$Lambda$123/0x7f...@1a2b`) become `$$Lambda`;
  *   - run-specific temp paths (`/tmp/...`, the JVM's temp dir, spark
  *     local dirs) become `<tmp>`.
  *
  * A second section dumps the theta-join shapes that only the rewrite
  * specs reach (see [[thetaShapes]]): every Hamming and set-overlap
  * spelling over small in-memory frames, crossed with inner, left_semi
  * and left_anti, each at the default two-phase floor and at `0`.
  *
  * Usage: sbt "Test/runMain graft.PlanDump <sfDir> <outFile> [query ...]"
  */
object PlanDump {
  private val exprId = "#\\d+L?".r
  private val planId = "plan_id=\\d+".r
  private val lambda = "\\$\\$Lambda\\$\\d+/0x[0-9a-f]+@[0-9a-f]+".r

  private def tmpRoots: Seq[String] =
    (Seq(System.getProperty("java.io.tmpdir"), "/tmp") ++
      sys.env.get("SPARK_LOCAL_DIRS").toSeq.flatMap(_.split(",")))
      .filter(_.nonEmpty).map(_.stripSuffix("/")).distinct
      .sortBy(-_.length)

  /** The normalisation applied to every dumped plan. */
  def normalise(plan: String): String = {
    val noIds = lambda.replaceAllIn(
      planId.replaceAllIn(exprId.replaceAllIn(plan, "#n"), "plan_id=n"),
      java.util.regex.Matcher.quoteReplacement("$$Lambda"))
    tmpRoots.foldLeft(noIds) { (s, root) =>
      val quoted = java.util.regex.Pattern.quote(root)
      s.replaceAll(s"(file:)?$quoted/[^\\s,\\]\\)\\}\\[]*", "<tmp>")
    }
  }

  /** Named naive theta joins over fixed in-memory frames. The Hamming
    * sides carry a wide string payload so the two-phase path fires at
    * floor 0; the set sides carry null-free long arrays (the threshold
    * and Jaccard spellings need `containsNull = false`). */
  def thetaShapes(spark: SparkSession): Seq[(String, () => DataFrame)] = {
    import spark.implicits._
    val hl = (1L to 6L).map(i => (i, i * 0x9E3779B97F4A7C15L, s"left-$i"))
      .toDF("lid", "lcode", "lpay")
    val hr = (1L to 6L).map(i => (i + 10, (i * 0x9E3779B97F4A7C15L) ^ 3L,
      s"right-$i")).toDF("rid", "rcode", "rpay")
    val sl = Seq((1L, Seq(1L, 2L, 3L), 2L), (2L, Seq(2L, 9L), 7L),
      (3L, Seq[Long](), 5L)).toDF("lid", "la", "lx")
    val sr = Seq((10L, Seq(2L, 3L, 4L), 3L), (11L, Seq(9L), 1L),
      (12L, Seq[Long](), 9L)).toDF("rid", "ra", "rx")
    val hamming: Seq[(String, Column)] = Seq(
      "hamming64" -> (hamming64(col("lcode"), col("rcode")) <= 3),
      "bit_count" -> expr("bit_count(lcode ^ rcode) <= 3"))
    val overlap: Seq[(String, Column)] = Seq(
      "arrays_overlap" -> arrays_overlap(col("la"), col("ra")),
      "exists_contains" -> expr("exists(la, e -> array_contains(ra, e))"),
      "intersect_ge_2" -> expr("size(array_intersect(la, ra)) >= 2"),
      "jaccard_gt" ->
        expr("size(array_intersect(la, ra)) > 0.5D * size(array_union(la, ra))"),
      "jaccard_ge" ->
        expr("size(array_intersect(la, ra)) >= 0.5D * size(array_union(la, ra))"),
      "contains_array_left" -> array_contains(col("la"), col("rx")),
      "contains_array_right" -> array_contains(col("ra"), col("lx")))
    val joins = for {
      (frames, conds) <- Seq((hl, hr) -> hamming, (sl, sr) -> overlap)
      (cname, cond) <- conds
      jt <- Seq("inner", "left_semi", "left_anti")
    } yield (s"$cname/$jt", () => frames._1.join(frames._2, cond, jt))
    hl.createOrReplaceTempView("theta_hl")
    hr.createOrReplaceTempView("theta_hr")
    sl.createOrReplaceTempView("theta_sl")
    sr.createOrReplaceTempView("theta_sr")
    joins ++ Seq(
      "sql_not_exists_hamming" -> (() => spark.sql(
        """SELECT lid FROM theta_hl c WHERE NOT EXISTS (SELECT 1 FROM theta_hr b
          |WHERE bit_count(c.lcode ^ b.rcode) <= 3)""".stripMargin)),
      "sql_not_exists_jaccard_ge" -> (() => spark.sql(
        """SELECT lid FROM theta_sl WHERE NOT EXISTS (SELECT 1 FROM theta_sr
          |WHERE size(array_intersect(la, ra))
          |      >= 0.5 * size(array_union(la, ra)))""".stripMargin)),
      "stand_down_hamming_k20/inner" -> (() =>
        hl.join(hr, hamming64(col("lcode"), col("rcode")) <= 20)))
  }

  /** One `===== theta <name> floor=<f> =====` block per shape and floor. */
  private def dumpTheta(spark: SparkSession, only: Set[String],
      sb: StringBuilder): Int = {
    var failed = 0
    val shapes = thetaShapes(spark)
      .filter { case (n, _) => only.isEmpty || only(s"theta/$n") }
    for ((name, df) <- shapes; floor <- Seq("default", "0")) {
      sb ++= s"===== theta $name floor=$floor =====\n--- optimized ---\n"
      if (floor == "default")
        spark.conf.unset(ScaleGuards.OverlapTwoPhaseMinBytesKey)
      else spark.conf.set(ScaleGuards.OverlapTwoPhaseMinBytesKey, floor)
      try Try(df().queryExecution.optimizedPlan.toString) match {
        case Success(p) => sb ++= normalise(p)
        case Failure(e) =>
          failed += 1
          sb ++= s"<build failed: ${e.getClass.getName}: ${e.getMessage}>"
      } finally spark.conf.unset(ScaleGuards.OverlapTwoPhaseMinBytesKey)
      sb ++= "\n"
    }
    failed
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.PlanDump <sfDir> <outFile> [query ...]")
    val sfDir = args(0)
    val out = Paths.get(args(1))
    val only = args.drop(2).toSet
    val cpus = sys.env.get("SPARK_GRAFT_CPUS")
      .flatMap(_.toIntOption).getOrElse(4)
    val spark = GraftSession.build("graft-plandump", s"local[$cpus]", cpus)
    // print every field of every node: the default cap (25) elides
    // wide projections as "... N more fields", hiding column changes
    spark.conf.set("spark.sql.debug.maxToStringFields", "100000")
    val oracle = SparkEntry.oracleSql
    val sb = new StringBuilder
    var failed = 0
    val entries = SparkEntry.registry
      .filter { case (n, _) => only.isEmpty || only(n) }
    entries.foreach { case (name, d) =>
      sb ++= s"===== $name =====\n--- oracle ---\n"
      sb ++= oracle.getOrElse(name, "<none>") ++= "\n--- optimized ---\n"
      Try(d.build(spark, sfDir).queryExecution.optimizedPlan.toString) match {
        case Success(p) => sb ++= normalise(p)
        case Failure(e) =>
          failed += 1
          sb ++= s"<build failed: ${e.getClass.getName}: ${e.getMessage}>"
      }
      sb ++= "\n"
    }
    failed += dumpTheta(spark, only, sb)
    Files.write(out, sb.toString.getBytes(StandardCharsets.UTF_8))
    println(s"[plandump] ${entries.size} entries -> $out" +
      (if (failed > 0) s", $failed failed to build" else ""))
    spark.stop()
  }
}
