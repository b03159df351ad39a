package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The census of `spark.graft.*` settings: every string literal in the
  * main sources that starts with `spark.graft.` is a key some code
  * reads. Pinning the set makes a new knob a visible diff here. */
class KnobCensusSpec extends AnyFunSuite {

  test("main reads exactly six spark.graft.* keys") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val literal = "\"(spark\\.graft\\.[^\"$]*)\"".r
    val walk = Files.walk(root)
    val keys =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
        .flatMap { (p: Path) =>
          literal.findAllMatchIn(Files.readString(p)).map(_.group(1))
        }.toSet
      finally walk.close()
    assert(keys == Set(
      "spark.graft.failUnpartitionedWindows",
      "spark.graft.failCartesianProducts",
      "spark.graft.hammingBlockJoinRewrite",
      "spark.graft.overlapJoinRewrite",
      "spark.graft.overlapJoinRewrite.twoPhaseMinBytes",
      "spark.graft.preflight"))
  }
}
