package graft.streaming

import graft.SparkSuite
import graft.plans.PreflightLog
import java.nio.file.{Files, Paths}

/** The preflight spill an engine registers beside its checkpoint root
  * lives exactly as long as the engine: `stopAll()` releases it, and
  * never a spill another live engine still holds. The spill path is
  * JVM-global and other suites may re-point it concurrently, so the
  * landing checks retry. */
class EngineSpillSpec extends SparkSuite {

  private def engine(root: String): GraftEngine =
    new GraftEngine(spark, EngineConfig(), new FileTopicIO(s"$root/topics"),
      s"$root/ckpt")

  private def record(marker: String): Unit =
    PreflightLog.record(s"test preflight: worst_element=$marker",
      aborted = false, rule = "overlap-join", kind = "preflight",
      diagnosis = "ok")

  private def spillHolds(root: String, marker: String): Boolean = {
    val f = Paths.get(s"$root/ckpt/_preflight_spill.jsonl")
    Files.exists(f) && new String(Files.readAllBytes(f)).contains(marker)
  }

  test("a stopped engine detaches its spill: audits recorded after " +
      "stopAll() never re-create its deleted checkpoint root") {
    val root = tmpDir("spillstop")
    val e = engine(root)
    e.stopAll()
    graft.TempDirs.deleteRecursively(Paths.get(s"$root/ckpt"))
    record("after-stop-" + System.nanoTime())
    assert(!Files.exists(Paths.get(s"$root/ckpt")),
      "an audit after stopAll() re-created the stopped engine's root")
    e.stopAll() // a second stop (the shutdown hook's) is a no-op
  }

  test("stopping one engine keeps another live engine's spill, on its " +
      "own root or on the same root") {
    for (sameRoot <- Seq(false, true)) {
      val (rootA, rootB) = {
        val a = tmpDir("spillA")
        (a, if (sameRoot) a else tmpDir("spillB"))
      }
      var landed = false
      var attempts = 0
      while (!landed && attempts < 5) {
        PreflightLog.clearSpill()
        val (a, b) = (engine(rootA), engine(rootB))
        try {
          a.stopAll()
          val marker = s"live-$sameRoot-" + System.nanoTime()
          record(marker)
          landed = spillHolds(rootB, marker)
        } finally { a.stopAll(); b.stopAll() }
        attempts += 1
      }
      assert(landed, s"sameRoot=$sameRoot: the live engine lost its spill")
    }
    PreflightLog.clearSpill()
  }
}
