package graft

/** The ONE recursive-delete helper (scratch roots, staging dirs, index
  * versions, bench debris previously each carried a near-identical
  * walk-and-delete with subtly divergent error handling — a fix to one
  * predictably missed the others).
  *
  * `bestEffort = true` swallows per-entry failures — cleanup paths that
  * must never fail their caller (bench pass teardown, vacuum).
  * `bestEffort = false` (default) propagates the first failure — recovery
  * paths where an undeletable stale file means the caller would duplicate
  * or resurrect data if it proceeded (idempotent-append replay). Either
  * way the walk stream is closed (an unclosed Files.walk holds a
  * directory fd until GC) and a missing root is a no-op. */
private[graft] object FsTree {
  def delete(root: java.nio.file.Path, bestEffort: Boolean = false): Unit = {
    def walkAndDelete(): Unit =
      if (java.nio.file.Files.exists(root)) {
        val s = java.nio.file.Files.walk(root)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.toSeq.reverseIterator.foreach { q =>
            if (bestEffort)
              try java.nio.file.Files.deleteIfExists(q)
              catch { case scala.util.control.NonFatal(_) => () }
            else java.nio.file.Files.deleteIfExists(q)
          }
        } finally s.close()
      }
    // bestEffort guards the WALK too: an entry vanishing mid-iteration
    // (a concurrent cleaner on a shared /tmp) throws UncheckedIOException
    // out of the stream itself, not out of any per-entry delete
    if (bestEffort)
      try walkAndDelete()
      catch { case scala.util.control.NonFatal(_) => () }
    else walkAndDelete()
  }
}
