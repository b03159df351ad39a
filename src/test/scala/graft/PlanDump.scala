package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
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
    Files.write(out, sb.toString.getBytes(StandardCharsets.UTF_8))
    println(s"[plandump] ${entries.size} entries -> $out" +
      (if (failed > 0) s", $failed failed to build" else ""))
    spark.stop()
  }
}
