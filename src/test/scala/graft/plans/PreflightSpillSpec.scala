package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** The preflight ring's durable half: append-on-record JSONL spill,
  * size-capped by one rotation generation, reloadable after a driver
  * restart. The ring is JVM-global and other suites may interleave
  * entries, so every assertion here keys on this suite's own unique
  * markers rather than ring counts. */
class PreflightSpillSpec extends AnyFunSuite with graft.TempDirs {

  /** Register `path` and record a marker line, retrying if another
    * suite's engine construction re-pointed the JVM-global spill in the
    * window (sub-ms, but suites run concurrently). */
  private def recordWithSpill(path: String, marker: String,
      aborted: Boolean = false, shareBp: Option[Long] = None): Unit = {
    var attempts = 0
    var ok = false
    while (!ok && attempts < 5) {
      PreflightLog.clearSpill()
      PreflightLog.spillTo(path)
      // the LINE carries JSON-hostile characters; the marker stays clean
      // so the on-disk (escaped) rendering still contains it verbatim
      PreflightLog.record(
        s"test preflight: \"quoted\"\nnewline worst_element=$marker",
        aborted = aborted, rule = "overlap-join", kind = "preflight",
        diagnosis = "hot-element: test", worstKey = s"worst_element=$marker",
        shareBp = shareBp)
      val p = Paths.get(path)
      ok = Files.exists(p) && new String(Files.readAllBytes(p)).contains(marker)
      attempts += 1
    }
    assert(ok, s"spill append never landed for marker $marker")
  }

  test("append-on-record + reload round-trips every typed field, " +
      "including JSON-hostile characters in the line") {
    val path = s"${tmpDir("pfspill")}/ckpt/_preflight_spill.jsonl"
    try {
      val marker = "m-" + System.nanoTime()
      recordWithSpill(path, marker, aborted = true, shareBp = Some(10000L))
      val before = PreflightLog.recent()
        .find(_.worstKey.contains(marker)).get
      // simulated restart: the ring dies with the driver
      PreflightLog.clear()
      assert(!PreflightLog.recent().exists(_.worstKey.contains(marker)))
      assert(PreflightLog.loadSpill() >= 1)
      val after = PreflightLog.recent()
        .find(_.worstKey.contains(marker))
      assert(after.isDefined, "reload must resurrect the audit")
      assert(after.get == before,
        s"reloaded audit must be field-identical:\n $before\n ${after.get}")
    } finally PreflightLog.clearSpill()
  }

  test("the spill is size-capped: one rotation generation bounds disk " +
      "at ~2x maxBytes, and reload seeds at most Capacity newest") {
    val path = s"${tmpDir("pfspill2")}/spill.jsonl"
    try {
      PreflightLog.clearSpill()
      PreflightLog.spillTo(path, maxBytes = 4096L)
      (1 to 200).foreach { i =>
        PreflightLog.record(s"test preflight line $i " + "x" * 150,
          aborted = false, rule = "overlap-join", kind = "preflight",
          diagnosis = "ok")
      }
      val p = Paths.get(path)
      val r = Paths.get(path + ".1")
      assert(Files.exists(p) && Files.exists(r),
        "200 ~200-byte lines past a 4KB cap must have rotated")
      val total = Files.size(p) + Files.size(r)
      assert(total < 3 * 4096L, s"disk use must stay bounded, got $total")
      PreflightLog.clear()
      assert(PreflightLog.loadSpill() <= PreflightLog.Capacity)
    } finally PreflightLog.clearSpill()
  }

  test("a TORN line (kill -9 mid-append glues a partial \\u escape to " +
      "the next record) is skipped, never thrown: loadSpill runs inside " +
      "the engine constructor, and an exception here would crash-loop " +
      "every restart against the same corrupt file") {
    val dir = tmpDir("pfspill4")
    val path = s"$dir/spill.jsonl"
    val marker = "torn-" + System.nanoTime()
    val valid = PreflightLog.toJson(PreflightLog.Audit(
      7L, "ok line", aborted = false, rule = "overlap-join",
      kind = "preflight", diagnosis = "ok", worstKey = s"k=$marker",
      shareBp = None, session = ""))
    // torn fragment ends inside a \u escape, next record glued with no
    // newline — the "line" regex then swallows into the next record and
    // unescape hits Integer.parseInt("000{", 16)
    val torn = """{"at":1,"aborted":false,"rule":"r","kind":"preflight",""" +
      """"diagnosis":"ok","worst":"w","share_bp":null,"session":"",""" +
      """"line":"x""" + "\\u000" + valid
    Files.write(Paths.get(path), s"$torn\n$valid\n".getBytes)
    try {
      PreflightLog.clearSpill()
      PreflightLog.spillTo(path)
      PreflightLog.clear()
      val n = PreflightLog.loadSpill() // must not throw
      assert(n >= 1, "the intact line must still load")
      assert(PreflightLog.recent().exists(_.worstKey.contains(marker)))
    } finally PreflightLog.clearSpill()
  }

  test("reload MERGES with live entries: pre-crash audits never outrank " +
      "or evict newer live ones, and a repeated registration (A->B->A " +
      "engines) never duplicates") {
    val path = s"${tmpDir("pfspill5")}/spill.jsonl"
    val a = "mA-" + System.nanoTime()
    val b = "mB-" + System.nanoTime()
    try {
      // re-registering the path before each reload also defends against
      // a concurrent suite's engine re-pointing the JVM-global spill
      def reseed(): Unit = {
        PreflightLog.clearSpill(); PreflightLog.spillTo(path)
        PreflightLog.loadSpill()
      }
      recordWithSpill(path, a)
      // A->B->A: re-seeding the same file into a ring that already holds
      // its entries must not duplicate
      reseed()
      assert(PreflightLog.recent()
        .count(_.worstKey.contains(a)) == 1, "duplicate after re-seed")
      Thread.sleep(5)
      PreflightLog.record(s"test preflight: worst_element=$b",
        aborted = false, rule = "overlap-join", kind = "preflight",
        diagnosis = "ok", worstKey = s"worst_element=$b")
      reseed()
      val r = PreflightLog.recent()
      val ia = r.indexWhere(_.worstKey.contains(a))
      val ib = r.indexWhere(_.worstKey.contains(b))
      assert(ia >= 0 && ib >= 0, s"both audits must survive the merge: $r")
      assert(ib < ia,
        "recent() is latest-first: the newer live audit must outrank " +
          "the older reloaded one")
      assert(r.count(_.worstKey.contains(a)) == 1)
      assert(r.count(_.worstKey.contains(b)) == 1)
    } finally PreflightLog.clearSpill()
  }

  test("the Hadoop sink (RawLocalFileSystem proves the API path real " +
      "clusters take): append, rotation, and restart reload all work " +
      "where the nio-only spill silently no-opped") {
    val dir = tmpDir("pfspill6")
    val backing = s"$dir/ckpt/_preflight_spill.jsonl"
    val raw = new org.apache.hadoop.fs.RawLocalFileSystem()
    raw.initialize(java.net.URI.create("file:///"),
      new org.apache.hadoop.conf.Configuration())
    val marker = "hd-" + System.nanoTime()
    try {
      PreflightLog.clearSpill()
      assert(PreflightLog.registerSink(raw,
        new org.apache.hadoop.fs.Path(backing), maxBytes = 4096L))
      PreflightLog.record(s"test preflight worst_element=$marker",
        aborted = true, rule = "overlap-join", kind = "preflight",
        diagnosis = "hot-element: test", worstKey = s"worst_element=$marker")
      val onDisk = Paths.get(backing)
      assert(Files.exists(onDisk) &&
        new String(Files.readAllBytes(onDisk)).contains(marker),
        "the Hadoop sink must have appended to the local backing file")
      // restart: ring dies, reload resurrects through the same FS
      PreflightLog.clear()
      assert(PreflightLog.loadSpill() >= 1)
      assert(PreflightLog.recent().exists(_.worstKey.contains(marker)))
      // rotation: push past the 4KB cap and expect the .1 generation
      (1 to 60).foreach { i =>
        PreflightLog.record(s"test preflight filler $i " + "x" * 150,
          aborted = false, rule = "overlap-join", kind = "preflight",
          diagnosis = "ok")
      }
      assert(Files.exists(Paths.get(s"$backing.1")),
        "the Hadoop sink must rotate at the size cap")
    } finally PreflightLog.clearSpill()
  }

  test("a no-append filesystem (the checksummed LocalFileSystem — the " +
      "same refusal shape as S3A) falls back to the step-aside rewrite: " +
      "records accumulate, reload works, and a crash BETWEEN the two " +
      "renames (current generation parked at .bak) still reloads — the " +
      "window never holds zero copies") {
    val dir = tmpDir("pfspill7")
    val backing = s"$dir/spill.jsonl"
    val lfs = org.apache.hadoop.fs.FileSystem.newInstance(
      java.net.URI.create("file:///"),
      new org.apache.hadoop.conf.Configuration())
    assert(lfs.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem])
    val m1 = "na1-" + System.nanoTime()
    val m2 = "na2-" + System.nanoTime()
    try {
      PreflightLog.clearSpill()
      assert(PreflightLog.registerSink(lfs,
        new org.apache.hadoop.fs.Path(backing), maxBytes = 1L << 20))
      PreflightLog.record(s"test preflight worst_element=$m1",
        aborted = false, rule = "overlap-join", kind = "preflight",
        diagnosis = "ok", worstKey = s"worst_element=$m1")
      PreflightLog.record(s"test preflight worst_element=$m2",
        aborted = false, rule = "overlap-join", kind = "preflight",
        diagnosis = "ok", worstKey = s"worst_element=$m2")
      val txt = new String(Files.readAllBytes(Paths.get(backing)))
      assert(txt.contains(m1) && txt.contains(m2),
        s"both records must survive the rewrite fallback; got:\n$txt")
      PreflightLog.clear()
      assert(PreflightLog.loadSpill() >= 2)
      assert(PreflightLog.recent().exists(_.worstKey.contains(m1)) &&
        PreflightLog.recent().exists(_.worstKey.contains(m2)))
      // simulate the crash window: the rewrite parked the current
      // generation at .bak and died before renaming tmp into place
      Files.move(Paths.get(backing),
        Paths.get(s"$dir/.spill.jsonl.bak"))
      PreflightLog.clear()
      assert(PreflightLog.loadSpill() >= 2,
        "reload must fall back to the .bak generation")
      assert(PreflightLog.recent().exists(_.worstKey.contains(m2)))
      // the FIRST post-crash append must restore .bak before writing:
      // recreating `p` with one record would shadow the parked
      // generation and the next rewrite's bak-delete would erase it
      val m3 = "na3-" + System.nanoTime()
      PreflightLog.record(s"test preflight worst_element=$m3",
        aborted = false, rule = "overlap-join", kind = "preflight",
        diagnosis = "ok", worstKey = s"worst_element=$m3")
      val after = new String(Files.readAllBytes(Paths.get(backing)))
      assert(after.contains(m1) && after.contains(m2) && after.contains(m3),
        s"pre-crash audits must survive the first post-crash append:\n$after")
      // the OTHER crash residue: .bak left beside a live file (died
      // after tmp took p's place, before the bak delete) is STALE —
      // the next append must clean it, or a later rotation crash
      // would resurrect the old snapshot as the current generation
      Files.write(Paths.get(s"$dir/.spill.jsonl.bak"),
        "stale snapshot\n".getBytes)
      val m4 = "na4-" + System.nanoTime()
      PreflightLog.record(s"test preflight worst_element=$m4",
        aborted = false, rule = "overlap-join", kind = "preflight",
        diagnosis = "ok", worstKey = s"worst_element=$m4")
      assert(!Files.exists(Paths.get(s"$dir/.spill.jsonl.bak")),
        "a stale .bak beside a live file must be cleaned on append")
      assert(new String(Files.readAllBytes(Paths.get(backing)))
        .contains(m4))
    } finally PreflightLog.clearSpill()
  }

  test("a file: URI resolves to the SAME nio sink as its plain path — " +
      "local mounts keep O_APPEND's torn-line durability and cost, and " +
      "the two spellings of one root never double-register") {
    val dir = tmpDir("pfspill9")
    val plain = s"$dir/spill.jsonl"
    try {
      PreflightLog.clearSpill()
      assert(PreflightLog.spillTo(plain))
      assert(!PreflightLog.spillTo(s"file:$plain"),
        "the file: spelling must resolve to the already-registered sink")
      assert(!PreflightLog.spillTo(s"file://$plain"))
      val marker = "local-" + System.nanoTime()
      PreflightLog.record(s"test preflight worst_element=$marker",
        aborted = false, rule = "overlap-join", kind = "preflight",
        diagnosis = "ok", worstKey = s"worst_element=$marker")
      assert(new String(Files.readAllBytes(Paths.get(plain)))
        .contains(marker))
      // the raw local filesystem appends in place: no checksum sidecar,
      // no rewrite fallback
      assert(!Files.exists(Paths.get(s"$dir/.spill.jsonl.crc")))
    } finally PreflightLog.clearSpill()
  }

  test("EVERY scheme-shaped path that fails FS resolution is a warn-" +
      "and-refuse — a misspelled remote root ('s3a:/bucket', single " +
      "slash) must NEVER silently become a bogus local './s3a:…' file " +
      "with a true return; a dot-prefixed spelling reaches nio") {
    val seg = s"pfspill-colon:${System.nanoTime()}"
    try {
      PreflightLog.clearSpill()
      // colon-bearing relative path: scheme-shaped, no resolvable FS —
      // refused (a local-path fallback here was tried and reverted: it
      // localized misspelled REMOTE roots silently)
      assert(!PreflightLog.spillTo(s"$seg/spill.jsonl"))
      assert(!Files.exists(Paths.get(seg).toAbsolutePath),
        "a refused registration must create nothing in the cwd")
      // the deliberate local spelling (no scheme shape) is a local path
      val dir = tmpDir("pfspill11")
      assert(PreflightLog.spillTo(s"$dir/./$seg/spill.jsonl"))
      val marker = "colon-" + System.nanoTime()
      PreflightLog.record(s"test preflight worst_element=$marker",
        aborted = false, rule = "overlap-join", kind = "preflight",
        diagnosis = "ok", worstKey = s"worst_element=$marker")
      assert(new String(Files.readAllBytes(
        Paths.get(s"$dir/$seg/spill.jsonl"))).contains(marker),
        "a colon inside a NON-first segment is a plain local path")
    } finally {
      PreflightLog.clearSpill()
      graft.FsTree.delete(Paths.get(seg).toAbsolutePath, bestEffort = true)
    }
  }

  test("a FAILED re-registration detaches the previous sink: audits " +
      "must not keep landing in a stale engine's spill file while the " +
      "warning claims ring-only telemetry") {
    val dir = tmpDir("pfspill10")
    val good = s"$dir/spill.jsonl"
    try {
      PreflightLog.clearSpill()
      assert(PreflightLog.spillTo(good))
      assert(!PreflightLog.spillTo("nosuchfs://bucket/spill.jsonl"))
      val marker = "detach-" + System.nanoTime()
      PreflightLog.record(s"test preflight worst_element=$marker",
        aborted = false, rule = "overlap-join", kind = "preflight",
        diagnosis = "ok", worstKey = s"worst_element=$marker")
      val onDisk = Paths.get(good)
      assert(!Files.exists(onDisk) ||
        !new String(Files.readAllBytes(onDisk)).contains(marker),
        "the stale sink must be detached after a failed registration")
    } finally PreflightLog.clearSpill()
  }

  test("re-registering the SAME path with a different maxBytes adopts " +
      "the new cap (returns false, so callers don't re-seed) — the old " +
      "no-op silently kept the first registration's looser bound") {
    val path = s"${tmpDir("pfspill8")}/spill.jsonl"
    try {
      PreflightLog.clearSpill()
      assert(PreflightLog.spillTo(path, maxBytes = 1L << 20))
      // ~6KB of records under the 1MB cap: no rotation
      (1 to 30).foreach { i =>
        PreflightLog.record(s"test preflight filler $i " + "x" * 150,
          aborted = false, rule = "overlap-join", kind = "preflight",
          diagnosis = "ok")
      }
      assert(!Files.exists(Paths.get(path + ".1")))
      // same path, tighter cap: must return false AND take effect
      assert(!PreflightLog.spillTo(path, maxBytes = 4096L))
      PreflightLog.record("test preflight one more",
        aborted = false, rule = "overlap-join", kind = "preflight",
        diagnosis = "ok")
      assert(Files.exists(Paths.get(path + ".1")),
        "the tighter re-registered cap must govern rotation")
    } finally PreflightLog.clearSpill()
  }

  test("an unresolvable spill path (unknown scheme) is a warn-and-" +
      "refuse false, never a throw: telemetry must not fail engine " +
      "construction") {
    try {
      PreflightLog.clearSpill()
      assert(!PreflightLog.spillTo("nosuchfs://bucket/spill.jsonl"))
      // and recording with no sink registered is a no-op, not an error
      PreflightLog.record("test preflight unsinked", aborted = false,
        rule = "overlap-join", kind = "preflight", diagnosis = "ok")
    } finally PreflightLog.clearSpill()
  }

  /** A sparse file whose REPORTED size crosses [[PreflightLog.ForeignBound]]
    * without touching disk — stands in for a misconfigured operator's
    * multi-GiB data file parked at the spill path. */
  private def sparseForeign(path: String): Unit = {
    val raf = new java.io.RandomAccessFile(path, "rw")
    try raf.setLength(PreflightLog.ForeignBound + 1) finally raf.close()
  }

  test("a FOREIGN file at the nio spill path is quarantined, never " +
      "slurped (readAllLines would OOME — not NonFatal, escapes every " +
      "telemetry guard) and never deleted or rotated into the .1 slot " +
      "a later rotation REPLACEs away") {
    val dir = tmpDir("pfspill10")
    val path = s"$dir/spill.jsonl"
    sparseForeign(path)
    val marker = "fq-" + System.nanoTime()
    try {
      PreflightLog.clearSpill()
      PreflightLog.spillTo(path, maxBytes = 4096L)
      // reload against the foreign file: skipped, never read into heap
      PreflightLog.clear()
      assert(PreflightLog.loadSpill() == 0,
        "a foreign-size generation must be skipped on reload")
      // first append steps the foreign file aside to .quarantine
      PreflightLog.record(s"test preflight worst_element=$marker",
        aborted = false, rule = "overlap-join", kind = "preflight",
        diagnosis = "ok", worstKey = s"worst_element=$marker")
      val q = Paths.get(path + ".quarantine")
      assert(Files.exists(q) &&
        Files.size(q) > PreflightLog.ForeignBound,
        "the foreign file must be preserved intact at .quarantine")
      assert(!Files.exists(Paths.get(path + ".1")),
        "the foreign file must never land in the rotation slot")
      assert(new String(Files.readAllBytes(Paths.get(path)))
        .contains(marker), "spilling must resume after the quarantine")
    } finally PreflightLog.clearSpill()
  }

  test("a foreign file with the quarantine slot OCCUPIED drops the " +
      "record and leaves both files untouched — appends stay dead " +
      "rather than overwrite preserved data") {
    val dir = tmpDir("pfspill11")
    val path = s"$dir/spill.jsonl"
    sparseForeign(path)
    Files.write(Paths.get(path + ".quarantine"), "preserved\n".getBytes)
    try {
      PreflightLog.clearSpill()
      PreflightLog.spillTo(path, maxBytes = 4096L)
      PreflightLog.record("test preflight dropped", aborted = false,
        rule = "overlap-join", kind = "preflight", diagnosis = "ok")
      assert(Files.size(Paths.get(path)) > PreflightLog.ForeignBound,
        "the foreign file must remain in place, un-appended")
      assert(new String(Files.readAllBytes(
        Paths.get(path + ".quarantine"))) == "preserved\n",
        "the occupied quarantine must not be overwritten")
    } finally PreflightLog.clearSpill()
  }

  test("the Hadoop sink quarantines a foreign file before rotation " +
      "(rename-works FS would otherwise park it at .1 and DELETE it " +
      "one generation later)") {
    val dir = tmpDir("pfspill12")
    val backing = s"$dir/spill.jsonl"
    sparseForeign(backing)
    val raw = new org.apache.hadoop.fs.RawLocalFileSystem()
    raw.initialize(java.net.URI.create("file:///"),
      new org.apache.hadoop.conf.Configuration())
    val marker = "hfq-" + System.nanoTime()
    try {
      PreflightLog.clearSpill()
      assert(PreflightLog.registerSink(raw,
        new org.apache.hadoop.fs.Path(backing), maxBytes = 4096L))
      PreflightLog.record(s"test preflight worst_element=$marker",
        aborted = false, rule = "overlap-join", kind = "preflight",
        diagnosis = "ok", worstKey = s"worst_element=$marker")
      val q = Paths.get(backing + ".quarantine")
      assert(Files.exists(q) &&
        Files.size(q) > PreflightLog.ForeignBound,
        "the foreign file must be preserved intact at .quarantine")
      assert(!Files.exists(Paths.get(backing + ".1")))
      assert(new String(Files.readAllBytes(Paths.get(backing)))
        .contains(marker))
    } finally PreflightLog.clearSpill()
  }

  test("an UN-ROTATABLE blocking file (rename-by-false FS, unreadable) " +
      "is never deleted: quarantined where the FS allows it, left in " +
      "place (record dropped) where it does not") {
    import org.apache.hadoop.fs.{Path => HPath}
    // rename works EXCEPT into the .1 rotation slot; reads refused —
    // drives the copy-rotate catch with a quarantinable file
    class NoRotateFs extends org.apache.hadoop.fs.RawLocalFileSystem {
      override def rename(src: HPath, dst: HPath): Boolean =
        if (dst.getName.endsWith(".1")) false else super.rename(src, dst)
      override def open(f: HPath, bufferSize: Int)
          : org.apache.hadoop.fs.FSDataInputStream =
        throw new java.io.IOException("unreadable")
    }
    // rename NEVER works and reads are refused — the fully-bricked FS
    class BrickFs extends org.apache.hadoop.fs.RawLocalFileSystem {
      override def rename(src: HPath, dst: HPath): Boolean = false
      override def open(f: HPath, bufferSize: Int)
          : org.apache.hadoop.fs.FSDataInputStream =
        throw new java.io.IOException("unreadable")
    }
    val conf = new org.apache.hadoop.conf.Configuration()
    val dir1 = tmpDir("pfspill13")
    val b1 = s"$dir1/spill.jsonl"
    Files.write(Paths.get(b1), ("y" * 5000).getBytes) // >= 4096 cap
    val fs1 = new NoRotateFs(); fs1.initialize(
      java.net.URI.create("file:///"), conf)
    val marker = "ur-" + System.nanoTime()
    try {
      PreflightLog.clearSpill()
      assert(PreflightLog.registerSink(fs1,
        new HPath(b1), maxBytes = 4096L))
      PreflightLog.record(s"test preflight worst_element=$marker",
        aborted = false, rule = "overlap-join", kind = "preflight",
        diagnosis = "ok", worstKey = s"worst_element=$marker")
      val q1 = Paths.get(b1 + ".quarantine")
      assert(Files.exists(q1) && Files.size(q1) == 5000L,
        "the unreadable blocking file must be preserved at .quarantine")
      assert(new String(Files.readAllBytes(Paths.get(b1)))
        .contains(marker), "spilling must resume after the quarantine")

      // fully-bricked: quarantine rename also fails — the file stays
      // IN PLACE (the pre-fix code deleted it here)
      val dir2 = tmpDir("pfspill14")
      val b2 = s"$dir2/spill.jsonl"
      Files.write(Paths.get(b2), ("z" * 5000).getBytes)
      val fs2 = new BrickFs(); fs2.initialize(
        java.net.URI.create("file:///"), conf)
      PreflightLog.clearSpill()
      assert(PreflightLog.registerSink(fs2,
        new HPath(b2), maxBytes = 4096L))
      PreflightLog.record("test preflight dropped", aborted = false,
        rule = "overlap-join", kind = "preflight", diagnosis = "ok")
      assert(Files.exists(Paths.get(b2)) &&
        Files.size(Paths.get(b2)) == 5000L,
        "a blocking file the FS can neither rotate nor quarantine " +
          "must be left untouched, never deleted")
      assert(!Files.exists(Paths.get(b2 + ".quarantine")))
    } finally PreflightLog.clearSpill()
  }

  test("malformed spill lines are skipped, valid ones load") {
    val dir = tmpDir("pfspill3")
    val path = s"$dir/spill.jsonl"
    val marker = "mm-" + System.nanoTime()
    val valid = PreflightLog.toJson(PreflightLog.Audit(
      42L, "ln", aborted = false, rule = "overlap-join",
      kind = "preflight", diagnosis = "ok", worstKey = s"k=$marker",
      shareBp = None, session = "s1"))
    Files.write(Paths.get(path),
      s"not json at all\n{\"at\":broken}\n$valid\n".getBytes)
    try {
      PreflightLog.clearSpill()
      PreflightLog.spillTo(path)
      PreflightLog.clear()
      assert(PreflightLog.loadSpill() == 1)
      val got = PreflightLog.recent().find(_.worstKey.contains(marker))
      assert(got.exists(a => a.atMillis == 42L && a.session == "s1"), got)
    } finally PreflightLog.clearSpill()
  }
}
