package graft

/** Spark jobs a registry entry runs while its DataFrame is built, before
  * any action. A session resolves each table's schema once, so a second
  * build of a plain query runs none; the entries in [[eager]] run jobs at
  * build by design (COVERAGE.md gives each reason). No result is
  * collected: the spec pays for the build calls only.
  */
class BuildJobsSpec extends SparkSuite {

  /** Entries whose build runs Spark jobs on every call, by reason. */
  private val eager: Set[String] = Set(
    // iterative connected components, one localCheckpoint per round
    "d06_dedup_components", "d07_canonical_selection",
    "d23_cluster_size_report", "x09_leakage_safe_split",
    // BPE merges learned one collect per round
    "t24_bpe_vocab", "t29_bpe_encode",
    // ANN index publish under the scratch dir
    "s18_ann_persisted_index", "s19_ann_delta_index",
    "s20_ann_compacted_index",
    // scratch layout writes
    "l01_zorder_scan", "l02_compaction_scan", "l03_targeted_delete",
    // sketches collected into an estimate the plan carries as literals
    "a15_theta_segments", "a19_sliding_sketch_wau", "a27_kll_quantiles",
    // probe bloom / exact set built before the corpus scan
    "p08_bloom_decontaminate", "p21_exact_set_decontaminate")

  test("a second build of every registry entry in one session runs no " +
      "Spark job, outside the named eager builds") {
    val s = spark.newSession()
    val counts = SparkEntry.registry.map { case (name, d) =>
      d.build(s, sf0001)
      name -> jobsOf(d.build(s, sf0001))
    }
    val jobful = counts.filter(_._2 > 0).toMap
    assert(jobful.keySet.diff(eager).isEmpty,
      s"second builds that ran jobs: ${jobful -- eager}")
    assert(eager.diff(jobful.keySet).isEmpty,
      s"listed as eager but ran no job: ${eager.diff(jobful.keySet)}")
  }
}
