package graft.operators

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit
import org.scalatest.funsuite.AnyFunSuite

/** Scratch lifecycle (LayoutOps): each JVM writes its scratch roots under
  * one base of its own, and a shutdown hook deletes that base when the
  * JVM exits. */
class ScratchSpec extends AnyFunSuite with graft.TempDirs {

  private def list(dir: Path): Seq[String] = {
    val s = Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString).toList
    } finally s.close()
  }

  test("a child JVM that writes a scratch root and exits normally leaves " +
      "no scratch base behind") {
    val childTmp = Paths.get(tmpDir("scratch-child-tmp"))
    val log = Paths.get(tmpDir("scratch-child-log")).resolve("out.txt")
    val java = Paths.get(System.getProperty("java.home"), "bin", "java")
    val proc = new ProcessBuilder(java.toString, "-Xmx256m",
        s"-Djava.io.tmpdir=$childTmp",
        "-cp", System.getProperty("java.class.path"),
        ScratchChild.getClass.getName.stripSuffix("$"), "/data/sf0.01")
      .redirectErrorStream(true).redirectOutput(log.toFile).start()
    if (!proc.waitFor(120, TimeUnit.SECONDS)) {
      proc.destroyForcibly()
      fail("the child JVM did not exit within 120 s")
    }
    val out = Files.readString(log)
    assert(proc.exitValue() == 0, out)
    val root = Paths.get(out.linesIterator.toSeq.last.trim)
    assert(root.startsWith(childTmp),
      s"the child wrote its scratch outside its tmpdir: $root")
    assert(!Files.exists(root), s"the child's scratch root outlived it: $root")
    assert(!list(childTmp).exists(_.startsWith("graft-scratch")),
      s"the child left a scratch base: ${list(childTmp)}")
  }
}

/** Child-JVM body for [[ScratchSpec]]: makes one scratch root for the sf
  * dir in `args(0)`, writes a file into it, prints its path and returns. */
object ScratchChild {
  def main(args: Array[String]): Unit = {
    val root = Paths.get(LayoutOps.scratch("graft-child", args(0)))
    Files.writeString(root.resolve("part-0.parquet"), "x")
    println(root)
  }
}
