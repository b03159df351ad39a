package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temp dirs for a suite: each one [[tmpDir]] creates is deleted,
  * recursively, when the suite ends. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>

  private val created = new ConcurrentLinkedQueue[Path]

  def tmpDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    created.add(d)
    d.toString
  }

  override def afterAll(): Unit =
    try created.forEach(TempDirs.deleteRecursively(_))
    finally super.afterAll()
}

object TempDirs {
  def deleteRecursively(root: Path): Unit =
    if (Files.exists(root)) {
      val paths = Files.walk(root)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally paths.close()
    }
}
