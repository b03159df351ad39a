package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.{MinHashFamily, MinHashSig, SimHash32, StableHash}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` / `embeddings` — the
  * training-data-pipeline extension surface: exact (hash-groupBy), n-gram
  * Jaccard, MinHash+LSH banding, SimHash, and embedding-cosine near-dup.
  *
  * Scale design: every variant is a shuffle-on-key pipeline — no pairwise
  * O(n²) stage ever materializes over the full corpus. Candidate pairs come
  * from equi-joins on content-derived keys (hash / shared shingle / LSH band
  * signature / lsh bucket), which Spark executes as ordinary shuffled hash
  * joins; only within-bucket pairs are scored. That is the 100 TB-safe shape
  * (the same topology as Spark MLlib's MinHashLSH approxSimilarityJoin, built
  * here from first principles with oracle-portable hashes).
  */
object DedupOps {

  private def t(s: SparkSession, dir: String) = Tables(s, dir)

  /** Word-3-gram shingle arrays, deduped per doc map-side (array_distinct —
    * no shuffle; a global `.distinct()` would shuffle every pre-dedup
    * shingle row). Columns: doc_id, lang, sh_arr, n_sh. */
  private def shingleArrays(docs: DataFrame): DataFrame =
    Corpus.tokenized(docs, 3)
      .withColumn("sh_arr", Corpus.distinctNgrams(3))
      .select(col("doc_id"), col("lang"), col("sh_arr"),
        size(col("sh_arr")).cast("long").as("n_sh"))

  /** DuckDB CTEs producing the identical (doc_id, lang, shingle) set. */
  private val shinglesSql =
    """toks AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (
      |  SELECT DISTINCT doc_id, lang, shingle FROM (
      |    SELECT doc_id, lang,
      |      unnest(list_transform(range(1, len(w) - 1),
      |        i -> concat(w[CAST(i AS INT)], ' ', w[CAST(i AS INT) + 1],
      |          ' ', w[CAST(i AS INT) + 2]))) AS shingle
      |    FROM toks) u)""".stripMargin

  /** `sizes` (per-doc shingle count) and `inter` (shared-shingle count of
    * every doc pair) over [[shinglesSql]]'s `sh`. */
  private val shingleInterSql =
    """sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)""".stripMargin

  /** [[shingleInterSql]] plus `true_pairs`: the exact Jaccard ≥ 1/2
    * pairs, d02's definition. */
  private val truePairsSql =
    s"""$shingleInterSql,
       |true_pairs AS (
       |  SELECT a_id, b_id FROM inter
       |  JOIN sizes sa ON sa.doc_id = a_id
       |  JOIN sizes sb ON sb.doc_id = b_id
       |  WHERE n_inter * 3 >= sa.n_sh + sb.n_sh)""".stripMargin

  /** d15/d20's summary over `true_pairs` and a candidate pair relation
    * `cand` (aliased `a` in the hits join): counts, recall, precision. */
  private def recallSql(cand: String, a: String): String =
    s"""hits AS (
       |  SELECT t.a_id FROM true_pairs t
       |  JOIN $cand $a ON $a.a_id = t.a_id AND $a.b_id = t.b_id)
       |SELECT
       |  CAST((SELECT count(*) FROM true_pairs) AS BIGINT) AS n_true,
       |  CAST((SELECT count(*) FROM $cand) AS BIGINT) AS n_candidates,
       |  CAST((SELECT count(*) FROM hits) AS BIGINT) AS n_hits,
       |  CASE WHEN (SELECT count(*) FROM true_pairs) > 0 THEN
       |    round((SELECT count(*) FROM hits)
       |      / CAST((SELECT count(*) FROM true_pairs) AS DOUBLE), 4)
       |    END AS recall,
       |  CASE WHEN (SELECT count(*) FROM $cand) > 0 THEN
       |    round((SELECT count(*) FROM hits)
       |      / CAST((SELECT count(*) FROM $cand) AS DOUBLE), 4)
       |    END AS candidate_precision""".stripMargin

  /** `sizes` and `inter` restricted to the LSH candidate `pairs` (the
    * shared-shingle count of each candidate pair). */
  private val pairInterSql =
    """sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT p.a_id, p.b_id, count(*) AS n_inter
      |  FROM pairs p
      |  JOIN sh a ON a.doc_id = p.a_id
      |  JOIN sh b ON b.doc_id = p.b_id AND b.shingle = a.shingle
      |  GROUP BY p.a_id, p.b_id)""".stripMargin

  /** d11/d21's select tail: the exact Jaccard column, then every
    * candidate pair joined to both signatures (x, y) and sizes. */
  private val sigPairsTailSql =
    """  round(coalesce(i.n_inter, 0)
      |    / CAST(sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0) AS DOUBLE), 4)
      |    AS true_jaccard
      |FROM pairs p
      |JOIN sig x ON x.doc_id = p.a_id
      |JOIN sig y ON y.doc_id = p.b_id
      |JOIN sizes sa ON sa.doc_id = p.a_id
      |JOIN sizes sb ON sb.doc_id = p.b_id
      |LEFT JOIN inter i ON i.a_id = p.a_id AND i.b_id = p.b_id
      |ORDER BY a_id, b_id""".stripMargin

  /** Connected components over `pairs(a_id, b_id)`: `reach(v, r)` holds
    * every vertex reachable from v, so min(r) per v is its component.
    * Needs `WITH RECURSIVE`. */
  private[operators] val componentsSql =
    """edges AS (
      |  SELECT a_id AS src, b_id AS dst FROM pairs
      |  UNION ALL
      |  SELECT b_id AS src, a_id AS dst FROM pairs),
      |verts AS (SELECT DISTINCT src AS v FROM edges),
      |reach(v, r) AS (
      |  SELECT v, v FROM verts
      |  UNION
      |  SELECT w.v, e.dst FROM reach w JOIN edges e ON e.src = w.r)"""
      .stripMargin

  /** `shl(doc_id, shingles)`: distinct word-4-gram sets — the oracle twin
    * of [[fourGramShingles]]. */
  private val fourGramSql =
    """w AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |shl AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, len(toks) - 3),
      |    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3])))
      |    AS shingles
      |  FROM w WHERE len(toks) >= 4)""".stripMargin

  /** `g(doc_id, grams)` distinct word-3-gram sets and the banned subset
    * `b(b_id, bg)` — the oracle twin of [[triGramBanned]]. */
  private val triGramBannedSql =
    """w AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |g AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, len(toks) - 2),
      |    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS grams
      |  FROM w WHERE len(toks) >= 3),
      |b AS (SELECT doc_id AS b_id, grams AS bg FROM g WHERE doc_id % 50 = 0)"""
      .stripMargin

  /** d17/d18's oracle front: word-8-gram rows of every ≥ 8-token doc and
    * `matches`, every cross-doc (a < b) occurrence pair of one gram. */
  private val spanMatchesSql =
    """base AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |  WHERE len(string_split(text, ' ')) >= 8),
      |grams AS (
      |  SELECT doc_id, i - 1 AS pos,
      |    concat(w[i], ' ', w[i+1], ' ', w[i+2], ' ', w[i+3], ' ',
      |      w[i+4], ' ', w[i+5], ' ', w[i+6], ' ', w[i+7]) AS gram
      |  FROM base, LATERAL (SELECT unnest(range(1, len(w) - 6)) AS i) r),
      |matches AS (
      |  SELECT a.doc_id AS a_id, a.pos AS a_pos,
      |    b.doc_id AS b_id, b.pos AS b_pos
      |  FROM grams a JOIN grams b USING (gram) WHERE a.doc_id < b.doc_id)"""
      .stripMargin

  /** d18/d19's oracle result: per doc, word counts and the md5 of the
    * kept words, from `totals` and `kept`. */
  private val scrubSelectSql =
    """SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
      |  CAST(t.n_words AS BIGINT) AS n_words,
      |  CAST(t.n_words - coalesce(k.n_kept, 0) AS BIGINT)
      |    AS n_removed_words,
      |  md5(coalesce(k.clean_text, '')) AS clean_md5
      |FROM totals t LEFT JOIN kept k ON k.doc_id = t.doc_id
      |ORDER BY t.doc_id""".stripMargin

  /** Exact dedup via content-hash groupBy (the canonical-id pattern:
    * min(doc_id) per normalized-content hash). Map-side partial aggregation
    * means the shuffle carries one row per distinct hash, not per doc. */
  private def d01(s: SparkSession, dir: String): DataFrame =
    t(s, dir).documentsSpread
      .groupBy(md5(lower(col("text"))).as("content_hash"))
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("n_copies"))
      .select(col("canonical_id"), col("n_copies"))
      .orderBy(col("canonical_id"))

  private val d01Sql =
    """SELECT CAST(min(doc_id) AS BIGINT) AS canonical_id,
      |  CAST(count(*) AS BIGINT) AS n_copies
      |FROM documents
      |GROUP BY md5(lower(text))
      |ORDER BY canonical_id""".stripMargin

  /** Candidate pairs (a_id, b_id, n_inter) for the n-gram Jaccard join —
    * a self-join on shared shingles (never all-pairs).
    *
    * `maxShingleFreq`: the hot-shingle frequency cap. A boilerplate shingle
    * appearing in k documents contributes k·(k−1)/2 candidate pairs — one
    * pathological shingle ("all rights reserved …") re-quadratics the whole
    * topology at corpus scale. With the cap, shingles seen in more than F
    * docs are dropped by a FREE `size(ids) <= F` filter on the gathered
    * per-shingle doc lists (the group-and-expand stage already built
    * them — no separate count + semi-join; see candidatesFromArrays),
    * bounding any shingle's pair
    * contribution at F². True near-dups keep matching through their rarer
    * shared shingles; only ubiquitous (hence non-discriminative) shingles
    * are lost — the standard trade in shingle-based dedup. */
  private[operators] def ngramCandidates(docs: DataFrame,
      maxShingleFreq: Option[Int] = None): DataFrame =
    candidatesFromArrays(shingleHashArrays(docs), maxShingleFreq)

  /** (doc_id, shh_arr, n_sh): per-doc distinct 64-bit shingle hashes with
    * NO shingle string ever materialized — tokens are xxhash64'd once and
    * each 3-gram hash is a rotate-xor combine of its token hashes. The
    * combine is position-sensitive (each slot gets a different rotation)
    * and Spark-side only: it is a grouping key, never an output value (the
    * oracle intersects shingle STRINGS), so the only parity exposure is an
    * in-doc collision shrinking `n_sh` — ~10² shingles² / 2^65 ≈ 10⁻¹⁵ per
    * doc, far below the float-rounding noise floor. Replaces a per-shingle
    * ~25-char concat_ws allocation + string hash with three long ops. */
  private def shingleHashArrays(docs: DataFrame): DataFrame =
    shingleHashArraysFromToks(Corpus.tokenized(docs))

  /** [[shingleHashArrays]] over a frame already carrying the
    * [[Corpus.tokenized]] `toks` column. The hash/combine/distinct chain
    * is the native codegen'd [[graft.functions.ShingleHashes]] expression
    * (round 16): the former two interpreted `transform` HOF loops + the
    * intermediate `th` array + `array_distinct` became ONE primitive
    * pass per row — bit-identical output by construction (the
    * expression's doc spells out the retired HOF chain it mirrors). */
  private def shingleHashArraysFromToks(toksDocs: DataFrame): DataFrame =
    toksDocs
      .filter(size(col("toks")) >= 3)
      .withColumn("shh_arr",
        graft.functions.ShingleHashes.shingleHashes(col("toks")))
      .select(col("doc_id"), col("shh_arr"),
        size(col("shh_arr")).cast("long").as("n_sh"))

  private def candidatesFromArrays(arr: DataFrame,
      maxShingleFreq: Option[Int]): DataFrame = {
    // group key = the 64-bit combined shingle hash from shingleHashArrays:
    // the aggregation shuffles (doc_id, 8-byte key) rows and no shingle
    // string exists anywhere in the plan (collision odds over ~10^6
    // distinct shingles ≈ 2^-45 — below the FP noise floor of any float
    // column).
    //
    // Topology: ONE shuffle. Each shingle's doc list is gathered with
    // collect_list (rows are per-doc distinct already), then the C(k,2)
    // pairs are expanded with the native sorted_pairs generator — lazy,
    // tens of ns/pair, no second pass over the exploded rows. The
    // earlier self-join formulation shuffled
    // the exploded rows twice (the aliases differ, so Spark cannot reuse
    // the exchange) and paid a hash-join build on top; grouping colocates
    // exactly the same key groups with half the shuffle volume. Skew is
    // identical in both shapes (a hot shingle's pairs land in one task
    // either way) and is bounded by `maxShingleFreq`, which here is a
    // free `size(ids) ≤ F` filter instead of a separate count + semi-join.
    //
    // Measured dead end (round 5, do not retry): carrying n_sh through the
    // gather as collect_list(struct(doc_id, n_sh)) to spare the scorers
    // their two joins back to the sizes frame made warm d02 ~8x SLOWER at
    // sf0.1 (1.1 s → 9.4 s): sort_array over structs pays a per-element
    // comparator and the interpreted slice copies whole structs, swamping
    // what two broadcast joins against a 5000-row sizes frame cost. Bare
    // long arrays + joins is the winning shape.
    val sh = arr.select(col("doc_id"), explode(col("shh_arr")).as("sh"))
    val grouped = sh.groupBy(col("sh"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
    val kept = maxShingleFreq.fold(grouped)(f =>
      grouped.filter(size(col("ids")) <= f))
    expandPairs(kept)
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_inter"))
  }

  /** `ids`-array groups → the C(k,2) ordered pairs within each group.
    * Expects `ids` sorted ascending (so every emitted pair already
    * satisfies a_id < b_id) — the shared tail of every group-and-expand
    * candidate generator (n-gram shingles, MinHash bands, hyperplane
    * buckets).
    *
    * Native [[graft.functions.SortedPairs]] generator (round 9): the
    * earlier HOF spelling (`explode(flatten(transform(..., slice ...)))`)
    * ran interpreted with an O(k) `slice` copy per element and a boxed
    * struct per pair — profiled at 0.6 s of d02's ~1.5 s warm time at
    * sf0.1, concentrated on the 4 post-shuffle tasks AQE's byte-based
    * coalesce leaves for the gathered (byte-small, compute-heavy) group
    * lists. The generator walks the array with two cursors at tens of
    * ns/pair, which also makes pair cost roughly byte-proportional —
    * exactly the assumption AQE's coalescing prices partitions by — and
    * shrinks the worst capped group (k=2000 → 1,999,000 pairs in ONE
    * task) from ~1 s to milliseconds (DedupOpsSpec "headroom" test). */
  private[operators] def expandPairs(grouped: DataFrame): DataFrame =
    grouped.select(graft.functions.GraftFunctions.sorted_pairs(col("ids")))

  /** N-gram Jaccard near-dup over [[ngramCandidates]]: intersection counted
    * per candidate pair, Jaccard ≥ 1/2 decided in exact integer arithmetic
    * (3·|∩| ≥ |A|+|B| ⇔ 2·|∩| ≥ |A∪B| ⇔ J ≥ 1/2 — an earlier doc revision
    * misread this inequality as J ≥ 1/3; the implemented and oracle-matched
    * cut has always been 1/2, as d22's sweep reports in ‰: τ = 500).
    * Per-doc array_distinct bounds a shingle's
    * row count by corpus doc count; `maxShingleFreq` adds the hot-shingle
    * cap for production corpora (off in the oracle-checked d02, where the
    * DuckDB twin computes the uncapped join). */
  def ngramJaccard(docs: DataFrame,
      maxShingleFreq: Option[Int] = None): DataFrame =
    ngramJaccardFrom(shingleHashArrays(docs), maxShingleFreq)
      .orderBy(col("a_id"), col("b_id"))

  /** The UNORDERED Jaccard core over a prebuilt shingle-hash frame —
    * d15/d20's ground-truth sides consume this directly (they only
    * count the pairs and join on them, so d02's output `orderBy` was a
    * pure-waste range-partitioning exchange + sort on their path) and
    * feed it their shared tokenized base. */
  private def ngramJaccardFrom(arrRaw: DataFrame,
      maxShingleFreq: Option[Int]): DataFrame = {
    // cache lifetime note (applies to every operator-internal .cache()
    // on a RETURNED lineage): the frame is consumed lazily by the
    // caller, so there is no safe in-operator unpersist point; the
    // MEMORY_AND_DISK blocks are LRU-evicted under pressure and
    // reclaimed by the ContextCleaner when the plan is GC'd. Long-lived
    // sessions running many operators should spark.catalog.clearCache()
    // between logical jobs (Bench does, for honesty rather than memory).
    val arr = arrRaw.cache()
    // per-doc set sizes come free from the arrays — no counting aggregate
    val sizes = arr.select(col("doc_id"), col("n_sh"))
    candidatesFromArrays(arr, maxShingleFreq)
      .join(sizes.select(col("doc_id").as("a_id"), col("n_sh").as("na")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("n_sh").as("nb")), "b_id")
      .filter(col("n_inter") * 3 >= col("na") + col("nb"))
      .select(col("a_id"), col("b_id"),
        round(col("n_inter") / (col("na") + col("nb") - col("n_inter"))
          .cast("double"), 4).as("jaccard"))
  }

  private def d02(s: SparkSession, dir: String): DataFrame =
    ngramJaccard(t(s, dir).documentsSpread)

  private val d02Sql =
    s"""WITH $shinglesSql,
       |$shingleInterSql
       |SELECT CAST(a_id AS BIGINT) AS a_id, CAST(b_id AS BIGINT) AS b_id,
       |  round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 4) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = a_id
       |JOIN sizes sb ON sb.doc_id = b_id
       |WHERE n_inter * 3 >= sa.n_sh + sb.n_sh
       |ORDER BY a_id, b_id""".stripMargin

  /** MinHash + LSH banding: 16 hash functions (seeded md5), 4 bands × 4 rows;
    * docs sharing any band signature become candidate pairs. The signature
    * matrix is one groupBy over (doc × 16 seeds); the band join is an
    * equi-join on (band, signature) — the classic sub-quadratic LSH topology.
    * Reference has no such operator (SURVEY §2.6); this is the extension
    * surface's scale path for fuzzy dedup. */
  /** Unordered distinct MinHash-LSH candidate pairs — shared by d03 (the
    * declared pair query) and d06 (component resolution over the pairs). */
  private def minhashPairs(s: SparkSession, dir: String): DataFrame =
    minhashLshPairs(t(s, dir).documentsSpread)

  /** MinHash-LSH candidate pairs over any (doc_id, text) frame.
    *
    * `maxBandDocs` is the band-bucket analogue of `maxShingleFreq`: a flood
    * of near-identical documents (mirrored boilerplate, templated spam)
    * collapses into ONE (band, bsig) bucket of size k, whose C(k,2)
    * expansion lands in a single task — the only uncapped skew point in the
    * group-and-expand topology. With the cap, buckets larger than F are
    * dropped (a free `size(ids) ≤ F` filter on the gathered lists),
    * bounding any bucket's pair contribution at F². Run exact dedup (d01)
    * upstream first so byte-identical floods never reach the LSH stage;
    * what the cap then drops is only the pathological near-identical tail,
    * which a production pipeline handles by keeping one canonical doc per
    * capped bucket anyway. Off by default (and in the oracle-checked d03,
    * whose DuckDB twin computes the uncapped pair set). */
  def minhashLshPairs(docs: DataFrame,
      maxBandDocs: Option[Int] = None): DataFrame =
    lshPairsFromBands(minhashBands(docs), maxBandDocs)

  /** The band-bucket group-and-expand over a prebuilt band frame —
    * d15 feeds it bands built from its shared tokenized base. */
  private def lshPairsFromBands(bands: DataFrame,
      maxBandDocs: Option[Int]): DataFrame = {
    // all 16 min-hashes in ONE native codegen'd pass per row (MinHashSig:
    // one md5 digest per shingle, then the classic universal family
    // h_i(x) = (a_i·x + b_i) mod p over the digest's 28-bit prefix — the
    // same construction Spark's MinHashLSH ships, constants shared with
    // the oracle via MinHashFamily). Zero shuffles before the band join —
    // no explode, no groupBy. A naive h1 + i·h2 rehash of one digest
    // correlates the seeds (one tiny-h1 shingle wins many argmins) and
    // measurably inflates the band-collision false-positive rate; the
    // multiplicative family keeps the seeds' argmins independent.
    // single-shuffle group-and-expand (see candidatesFromArrays): each
    // (band, bsig) bucket gathers its doc list once and emits its C(k,2)
    // pairs in place — the aliased self-join shuffled the band table twice
    // and needed a cache to avoid recomputing the signature lineage per side
    val grouped = bands.groupBy(col("band"), col("bsig"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
    val kept = maxBandDocs.fold(grouped)(f =>
      grouped.filter(size(col("ids")) <= f))
    expandPairs(kept).distinct()
  }

  /** (doc_id, band, bsig): the 4×4 LSH band rows per document — the
    * hash-only structure an incremental fuzzy-dedup index stores (4 small
    * rows per doc, no text). Map-side only: native minhash_sigs + an
    * in-row band explode. */
  private[operators] def minhashBands(docs: DataFrame): DataFrame =
    minhashBandsFromToks(Corpus.tokenized(docs))

  /** Shingle STRINGS for the signature path, WITHOUT the per-doc
    * distinct (round 16, guide §4): MinHashSig's 16 family minimums are
    * idempotent over duplicate shingles — sigs verified bit-identical
    * with and without the distinct on the real corpus — and the
    * per-row hash set of ~25-char strings was HALF the stage's CPU
    * (0.57 → 0.31 s warm at sf0.1). Sig consumers ONLY: every
    * Jaccard/size consumer needs [[shingleArrays]]' distinct arrays
    * (n_sh is a set size there). Shared with CorpusPipeline's p01 sig
    * branch — ONE spelling, can't fork. */
  private[operators] def shingleStringsFromToks(toksDocs: DataFrame): DataFrame =
    toksDocs
      .filter(size(col("toks")) >= 3)
      .withColumn("sh_arr", Corpus.ngrams(3))
      .select(col("doc_id"), col("sh_arr"))

  /** [[minhashBands]] over a frame already carrying the
    * [[Corpus.tokenized]] `toks` column — the shared-scan shape (d15). */
  private def minhashBandsFromToks(toksDocs: DataFrame): DataFrame =
    Corpus.bands(shingleStringsFromToks(toksDocs)
      .withColumn("sigs", MinHashSig.minhashSigs(col("sh_arr"))))

  private def d03(s: SparkSession, dir: String): DataFrame =
    minhashPairs(s, dir).orderBy(col("a_id"), col("b_id"))

  /** DuckDB CTEs from `sh(doc_id, shingle)` to `sig` (minhash columns
    * m0..m15) and `bands(doc_id, band, bsig)` — the oracle twin of
    * MinHashSig + [[Corpus.bands]], shared with CorpusPipeline's p01. */
  private[operators] val minhashBandsSql = {
    val h = s"(a * x + b) % ${MinHashFamily.p}"
    val sigCols = (0 until 16)
      .map(i => s"min(CASE WHEN seed = $i THEN h END) AS m$i").mkString(",\n    ")
    val bandRows = (0 until 4).map { b =>
      val cat = (0 until 4).map(r => s"CAST(m${b * 4 + r} AS VARCHAR)")
        .mkString(" || '-' || ")
      s"SELECT doc_id, $b AS band, $cat AS bsig FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""shh AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(shingle), 1, 7))::BIGINT AS x
       |  FROM sh),
       |minh AS (
       |  SELECT doc_id, seed, min($h) AS h
       |  FROM shh, (VALUES ${MinHashFamily.duckSeedRows(16)})
       |    seeds(seed, a, b)
       |  GROUP BY doc_id, seed),
       |sig AS (
       |  SELECT doc_id,
       |    $sigCols
       |  FROM minh GROUP BY doc_id),
       |bands AS (
       |  $bandRows)""".stripMargin
  }

  /** DuckDB CTE preamble ending with `pairs` = the distinct LSH candidate
    * pairs — shared by the d03 and d06 oracles. */
  private[operators] val minhashPairsCtes =
    s"""$shinglesSql,
       |$minhashBandsSql,
       |pairs AS (
       |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bsig = y.bsig AND x.doc_id < y.doc_id)"""
      .stripMargin

  private val d03Sql =
    s"""WITH $minhashPairsCtes
       |SELECT CAST(a_id AS BIGINT) AS a_id, CAST(b_id AS BIGINT) AS b_id
       |FROM pairs
       |ORDER BY a_id, b_id""".stripMargin

  /** SimHash (32-bit) per document: per-bit vote over distinct token hashes,
    * sign-majority per bit — ONE native codegen'd pass per row
    * ([[graft.functions.SimHash32]], zero shuffles before the output sort;
    * the earlier explode → distinct → 32-vote-aggregate form shuffled the
    * token rows twice to rebuild per-document state). Near-dup lookup then
    * hamming-joins on the fingerprint (see SimHashSpec); the declared query
    * emits the fingerprint itself, which is the per-doc deterministic
    * artifact. */
  private def d04(s: SparkSession, dir: String): DataFrame =
    t(s, dir).documentsSpread
      .select(col("doc_id"),
        SimHash32.simhash32(Corpus.tokens()).as("simhash"))
      // oracle parity: the SQL's unnest emits NO row for a doc with no
      // tokens, so a null fingerprint (empty/all-null token array —
      // unreachable via split(), which yields [""] on empty text, but
      // reachable through other token producers) must drop, not ride
      // along as a null row the oracle never has. FENCED: pushed below
      // the projection the predicate re-derives simhash32 per row (two
      // md5 passes instead of one — measured +65% on this query); the
      // fence keeps the filter reading the projected column.
      .filter(graft.functions.PlanFence.fence(col("simhash").isNotNull))
      .orderBy(col("doc_id"))

  private val d04Sql = {
    val h = StableHash.duckH32("tok")
    s"""WITH toks AS (
       |  SELECT DISTINCT doc_id, tok FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |    FROM documents) u),
       |th AS (SELECT doc_id, $h AS h FROM toks),
       |bits AS (
       |  SELECT doc_id, j,
       |    sum(CASE WHEN (h >> CAST(j AS INT)) % 2 = 1 THEN 1 ELSE -1 END) AS vote
       |  FROM th, (SELECT unnest(range(32)) AS j) js
       |  GROUP BY doc_id, j)
       |SELECT doc_id,
       |  CAST(sum(CASE WHEN vote > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END)
       |    AS BIGINT) AS simhash
       |FROM bits
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }

  /** Embedding-cosine near-dup: candidate pairs blocked on `label` (the
    * blocking key; at 100 TB run [[d09]], the declared LSH-bucketed
    * composition, instead), scored with an in-order double fold. Norms are precomputed once per
    * vector — the pair stage then does a single dot-product fold, not three.
    * Threshold applied to the rounded value so both engines cut identically. */
  private def d05(s: SparkSession, dir: String): DataFrame = {
    val emb = SimilarityOps.normEmb(s, dir)
    val a = emb.select(col("vec_id").as("a_id"), col("label"),
      col("vd").as("av"), col("nrm").as("an"))
    val b = emb.select(col("vec_id").as("b_id"), col("label"),
      col("vd").as("bv"), col("nrm").as("bn"))
    a.join(b, Seq("label"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos_sim", SimilarityOps.cosine("av", "an", "bv", "bn"))
      .filter(col("cos_sim") > 0.35)
      .select(col("a_id"), col("b_id"), col("label").cast("long").as("label"),
        col("cos_sim"))
      .orderBy(col("a_id"), col("b_id"))
  }

  private val d05Sql =
    """WITH nv AS (
      |  SELECT vec_id, label, embedding,
      |    sqrt(list_sum(list_transform(embedding, v -> v::DOUBLE * v::DOUBLE)))
      |      AS nrm
      |  FROM embeddings)
      |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |  CAST(a.label AS BIGINT) AS label,
      |  round(list_sum(list_transform(range(1, 65),
      |      i -> a.embedding[CAST(i AS INT)]::DOUBLE
      |           * b.embedding[CAST(i AS INT)]::DOUBLE))
      |    / (a.nrm * b.nrm), 4) AS cos_sim
      |FROM nv a JOIN nv b ON a.label = b.label AND a.vec_id < b.vec_id
      |WHERE round(list_sum(list_transform(range(1, 65),
      |      i -> a.embedding[CAST(i AS INT)]::DOUBLE
      |           * b.embedding[CAST(i AS INT)]::DOUBLE))
      |    / (a.nrm * b.nrm), 4) > 0.35
      |ORDER BY a_id, b_id""".stripMargin

  /** SimHash near-dup pair join over d04's fingerprints: pigeonhole
    * blocking — a 32-bit simhash splits into 4 bytes; any pair within
    * hamming distance ≤ 3 must agree on at least one byte, so candidates
    * come from an equi-join on (band, byte) and only candidates pay the
    * [[graft.functions.GraftFunctions.hamming64]] scoring (codegen'd
    * Long.bitCount). Sub-quadratic for the same reason LSH banding is. */
  def simhashNearDups(sims: DataFrame, maxDist: Int = 3): DataFrame = {
    require(maxDist <= 3, "pigeonhole blocking with 4 bands covers maxDist <= 3")
    val banded = sims.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(b => struct(lit(b).as("band"),
        expr(s"shiftright(simhash, ${8 * b}) & 255").as("bv"))): _*)).as("bs"))
      .select(col("doc_id"), col("simhash"),
        col("bs.band").as("band"), col("bs.bv").as("bv"))
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        graft.functions.GraftFunctions
          .hamming64(col("x.simhash"), col("y.simhash")).as("dist"))
      .filter(col("dist") <= maxDist)
      .distinct()
  }

  /** Dedup-cluster resolution: connected components over the LSH candidate
    * pairs — near-dup pairs are not a dedup decision until transitively
    * closed (A~B, B~C ⇒ {A,B,C} is one cluster with one canonical doc).
    *
    * Per round: (1) min-label propagation across edges (two keyed shuffles,
    * the GraphX/Pregel topology in plain DataFrame ops), then (2) a
    * pointer-doubling shortcut — every vertex adopts its label's own label
    * (`lbl ← lbl(lbl)`), halving label-chain depth. Plain propagation needs
    * diameter rounds (a chain-shaped near-dup cluster of depth 10⁶ would
    * need 10⁶ passes); with the shortcut the round count is
    * O(log diameter), so even pathological chains converge inside the cap.
    * The driver-side loop only checks a convergence count per round — no
    * data is collected — and an unconverged exit throws rather than
    * silently returning wrong components.
    *
    * `reliableCheckpointDir`: by default rounds are pinned with eager
    * `localCheckpoint` — blocks live on executor local storage, which is
    * the fast path but is lost if an executor dies (on preemptible/spot
    * clusters a lost block aborts the job). Passing a directory switches
    * every round to a reliable `checkpoint()` into that (HDFS/object-store)
    * path, trading per-round write cost for fault tolerance — the same
    * knob GraphX exposes via the checkpoint interval. Both modes produce
    * identical labels (DedupOpsSpec proves it). */
  private[operators] def connectedComponents(pairs: DataFrame,
      maxRounds: Int = 50,
      reliableCheckpointDir: Option[String] = None): DataFrame = {
    val sc = pairs.sparkSession.sparkContext
    reliableCheckpointDir.foreach { d =>
      if (!sc.getCheckpointDir.contains(d)) sc.setCheckpointDir(d)
    }
    def pin(df: DataFrame): DataFrame =
      if (reliableCheckpointDir.isDefined) df.checkpoint(eager = true)
      else df.localCheckpoint(eager = true)
    val edges = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionAll(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      .cache()
    // eager checkpoint instead of cache: the shortcut self-join
    // references the round's frame twice, so without lineage truncation the
    // logical plan doubles every round — exponential analysis/explain cost.
    // Checkpointing pins the rows AND cuts the plan back to a leaf, keeping
    // per-round planning O(1) (the GraphX/MLlib iterative-algorithm rule).
    var labels = pin(edges.select(col("src").as("v")).distinct()
      .withColumn("lbl", col("v")))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxRounds) {
      val prop = edges.join(labels, edges("src") === labels("v"))
        .groupBy(col("dst").as("pv")).agg(min(col("lbl")).as("plbl"))
      val merged = labels.join(prop, col("v") === col("pv"), "left")
        .select(col("v"),
          least(col("lbl"), coalesce(col("plbl"), col("lbl"))).as("lbl"))
      // pointer doubling: lbl(v) ← min(lbl(v), lbl(lbl(v))). The label is
      // itself a vertex, so the lookup is a self-join on the label key.
      val next = pin(merged.as("a")
        .join(merged.select(col("v").as("lv"), col("lbl").as("llbl")),
          col("a.lbl") === col("lv"), "left")
        .select(col("a.v").as("v"),
          least(col("a.lbl"), coalesce(col("llbl"), col("a.lbl"))).as("lbl")))
      changed = next.as("n").join(labels.as("o"), "v")
        .filter(col("n.lbl") < col("o.lbl")).count()
      labels = next
      iter += 1
    }
    edges.unpersist()
    if (changed > 0)
      throw new IllegalStateException(
        s"connected components did not converge in $maxRounds rounds " +
          "(raise maxRounds; the component graph is deeper than expected)")
    labels.select(col("v").as("doc_id"), col("lbl").as("component"))
  }

  private def d06(s: SparkSession, dir: String): DataFrame =
    connectedComponents(minhashPairs(s, dir)).orderBy(col("doc_id"))

  private val d06Sql =
    s"""WITH RECURSIVE $minhashPairsCtes,
       |$componentsSql
       |SELECT CAST(v AS BIGINT) AS doc_id, CAST(min(r) AS BIGINT) AS component
       |FROM reach GROUP BY v
       |ORDER BY doc_id""".stripMargin

  /** Canonical-document selection — the stage after component resolution
    * that dedup pipelines actually ship: per near-dup cluster, keep the
    * best copy (longest text, ties to the lowest doc_id) and record the
    * cluster size. One keyed join (components × doc stats) + a window
    * partitioned by component — cluster-local work that parallelizes over
    * components; no global order until the bounded output sort. */
  private def d07(s: SparkSession, dir: String): DataFrame = {
    val comps = connectedComponents(minhashPairs(s, dir))
    val stats = t(s, dir).documents.select(
      col("doc_id").as("m_id"), col("n_chars"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    val members = comps.join(stats, col("doc_id") === col("m_id"))
      .select(col("component"), col("doc_id"), col("n_chars"))
    val sizes = members.groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"))
    members
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .join(sizes, "component")
      .select(col("component"), col("doc_id").as("canonical_id"),
        col("n_members"))
      .orderBy(col("component"))
  }

  private val d07Sql =
    s"""WITH RECURSIVE $minhashPairsCtes,
       |$componentsSql,
       |comp AS (SELECT v AS doc_id, min(r) AS component FROM reach GROUP BY v),
       |members AS (
       |  SELECT c.component, c.doc_id, d.n_chars,
       |    row_number() OVER (PARTITION BY c.component
       |      ORDER BY d.n_chars DESC, c.doc_id) AS rk
       |  FROM comp c JOIN documents d USING (doc_id)),
       |sizes AS (SELECT component, count(*) AS n_members
       |  FROM comp GROUP BY component)
       |SELECT CAST(m.component AS BIGINT) AS component,
       |  CAST(m.doc_id AS BIGINT) AS canonical_id,
       |  CAST(s.n_members AS BIGINT) AS n_members
       |FROM members m JOIN sizes s USING (component)
       |WHERE m.rk = 1
       |ORDER BY component""".stripMargin

  /** Incremental ingest dedup — the production shape for a corpus that
    * grows daily: dedupe ONLY the new batch (here: doc_id % 5 == 0 as the
    * arriving 20%) against the existing corpus's content-hash index plus
    * itself, without re-clustering the corpus. Within-batch canonicals are
    * one hash aggregate; the corpus check is a left-anti join against the
    * (hash-only, 16 bytes/row) index — at 100 TB the index is a fraction of
    * corpus size and the join shuffles on the hash key; the corpus text is
    * never re-read. */
  private def d08(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir).documentsSpread
      .withColumn("h", md5(lower(col("text"))))
    val corpusIndex = docs.filter(col("doc_id") % 5 =!= 0)
      .select(col("h")).distinct()
    val batch = docs.filter(col("doc_id") % 5 === 0)
    batch.groupBy(col("h"))
      .agg(min(col("doc_id")).as("doc_id"),
        count(lit(1)).as("n_batch_copies"))
      .join(corpusIndex, Seq("h"), "left_anti")
      .select(col("doc_id"), col("n_batch_copies"))
      .orderBy(col("doc_id"))
  }

  private val d08Sql =
    """WITH d AS (SELECT doc_id, md5(lower(text)) AS h FROM documents),
      |canon AS (
      |  SELECT h, min(doc_id) AS doc_id, count(*) AS n_batch_copies
      |  FROM d WHERE doc_id % 5 = 0 GROUP BY h)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CAST(n_batch_copies AS BIGINT) AS n_batch_copies
      |FROM canon
      |WHERE h NOT IN (SELECT DISTINCT h FROM d WHERE doc_id % 5 != 0)
      |ORDER BY doc_id""".stripMargin

  /** Embedding near-dup at scale — the declared composition d05's Scaladoc
    * promises: random-hyperplane LSH bucketing ([[SimilarityOps
    * .embWithBuckets]]) generates candidates, then ONLY within-bucket
    * pairs pay the cosine fold. Unlike d05 (blocked on `label`, a column
    * that real corpora don't have), the blocking key here is derived from
    * the vectors themselves, so this is the path a 100 TB user actually
    * runs: signature pass is O(N·planes) map-side math, the candidate join
    * is an equi-join on the 8-bit bucket — never all-pairs. Threshold
    * applied to the 4dp-rounded value so both engines cut identically. */
  private def d09(s: SparkSession, dir: String): DataFrame =
    cosineNearDups(SimilarityOps.embWithBuckets(s, dir), "bucket")
      .select(col("a_id"), col("b_id"), col("bucket"), col("cos_sim"))
      .orderBy(col("a_id"), col("b_id"))

  /** Cosine near-dup pairs blocked on `key` — d09 (LSH bucket) and d10
    * (k-means cluster): both sides of a (vec_id, vd, nrm, key) frame
    * equi-joined on the key, a_id < b_id, 4dp cosine > 0.35. */
  private def cosineNearDups(emb: DataFrame, key: String): DataFrame = {
    def side(id: String, v: String, n: String): DataFrame =
      emb.select(col("vec_id").as(id), col("vd").as(v), col("nrm").as(n),
        col(key))
    side("a_id", "av", "an").join(side("b_id", "bv", "bn"), Seq(key))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos_sim", SimilarityOps.cosine("av", "an", "bv", "bn"))
      .filter(col("cos_sim") > 0.35)
  }

  private val d09Sql =
    s"""WITH ${SimilarityOps.hyperplaneBucketsSql}
       |SELECT sa.vec_id AS a_id, sb.vec_id AS b_id, sa.bucket AS bucket,
       |  ${SimilarityOps.duckCosSql("a.embedding", "b.embedding")} AS cos_sim
       |FROM sigs sa
       |JOIN sigs sb ON sb.bucket = sa.bucket AND sa.vec_id < sb.vec_id
       |JOIN embeddings a ON a.vec_id = sa.vec_id
       |JOIN embeddings b ON b.vec_id = sb.vec_id
       |WHERE ${SimilarityOps.duckCosSql("a.embedding", "b.embedding")} > 0.35
       |ORDER BY a_id, b_id""".stripMargin

  /** SemDeDup — semantic dedup via k-means blocking: cluster the corpus
    * with [[SimilarityOps.kmeansAssignments]] (deterministic spherical
    * k-means), then score cosine ONLY within each cluster and keep pairs
    * above the near-dup threshold. This is the published SemDeDup recipe:
    * the cluster count k is the knob that bounds pair cost (Σ cellᵢ², not
    * N²) — at 100 TB you raise k ∝ N so cells stay constant-size, exactly
    * as with s03's IVF cells. Vectors stream through the cluster equi-join
    * (same reasoning as d09: per-pair payloads are whole embeddings, which
    * belong in a join, not a collect_list buffer). */
  private def d10(s: SparkSession, dir: String): DataFrame = {
    // cached: the assignment feeds BOTH sides of the within-cluster
    // pair join (the d11/d21/s17 fan-out class). The former spelling
    // leaned on exchange reuse of the final assign pass's min_by
    // aggregate; with centroid_argmin that pass is a pure map (no
    // exchange to reuse), so the cache is what keeps the Lloyd
    // pipeline from running once per join side. Pruned to the four
    // consumed columns (the p01/exactKept discipline) — cc is not read.
    val a = SimilarityOps.kmeansAssignments(s, dir)
      .select(col("vec_id"), col("vd"), col("nrm"), col("cid"))
      .cache()
    cosineNearDups(a, "cid")
      .select(col("a_id"), col("b_id"), col("cid").as("cluster"),
        col("cos_sim"))
      .orderBy(col("a_id"), col("b_id"))
  }

  private val d10Sql =
    s"""WITH ${SimilarityOps.kmeansCtes}
       |SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.cid AS cluster,
       |  round(list_sum(list_transform(range(1, 65),
       |    i -> a.vd[CAST(i AS INT)] * b.vd[CAST(i AS INT)]))
       |    / (a.nrm * b.nrm), 4) AS cos_sim
       |FROM a2 a JOIN a2 b ON b.cid = a.cid AND a.vec_id < b.vec_id
       |WHERE round(list_sum(list_transform(range(1, 65),
       |    i -> a.vd[CAST(i AS INT)] * b.vd[CAST(i AS INT)]))
       |    / (a.nrm * b.nrm), 4) > 0.35
       |ORDER BY a_id, b_id""".stripMargin

  /** Sketch calibration: the MinHash Jaccard ESTIMATE (matching signature
    * fraction) next to the exact shingle-set Jaccard for every d03
    * candidate pair — the measurement that tells an operator what
    * similarity a 16-signature collision actually witnesses, i.e. where
    * to set the band/row trade-off before a 100 TB run (at scale you
    * compute the estimate for every candidate and the exact value for a
    * sampled audit slice; here the pair set is the audit slice).
    * Exact-pair scoring joins only the candidate pairs back to their
    * per-doc shingle arrays — array_intersect on two per-row arrays,
    * never a corpus-wide pairing. */
  private def d11(s: SparkSession, dir: String): DataFrame =
    sigPairs(s, dir)
      .withColumn("matches", expr(
        "size(filter(zip_with(a_sigs, b_sigs, (x, y) -> x = y), b -> b))"))
      .withColumn("n_inter", pairInter)
      .select(col("a_id"), col("b_id"),
        round(col("matches") / 16.0, 4).as("est_jaccard"), trueJaccard)
      .orderBy(col("a_id"), col("b_id"))

  /** d11/d21's shared front: every LSH candidate pair joined back to
    * both documents' shingle arrays (a_arr, b_arr), set sizes (na, nb)
    * and minhash signatures (a_sigs, b_sigs). The per-doc frame is
    * cached: it feeds both back-joins, and minhashLshPairs rebuilds the
    * same tokenize/shingle/md5×16 lineage — uncached, the corpus map
    * pass ran 3× per execution. */
  private def sigPairs(s: SparkSession, dir: String): DataFrame = {
    val arr = shingleArrays(t(s, dir).documentsSpread)
      .withColumn("sigs", MinHashSig.minhashSigs(col("sh_arr")))
      .select(col("doc_id"), col("sh_arr"), col("n_sh"), col("sigs"))
      .cache()
    def side(p: String): DataFrame =
      arr.select(col("doc_id").as(s"${p}_id"), col("sh_arr").as(s"${p}_arr"),
        col("n_sh").as(s"n$p"), col("sigs").as(s"${p}_sigs"))
    minhashLshPairs(t(s, dir).documentsSpread)
      .join(side("a"), "a_id")
      .join(side("b"), "b_id")
  }

  /** Exact shingle-set intersection size of a back-joined pair. */
  private def pairInter: Column =
    size(array_intersect(col("a_arr"), col("b_arr"))).cast("long")

  /** Exact shingle Jaccard (4dp) from the pair's n_inter, na and nb. */
  private def trueJaccard: Column =
    round(col("n_inter")
      / (col("na") + col("nb") - col("n_inter")).cast("double"), 4)
      .as("true_jaccard")

  private val d11Sql = {
    val matches = (0 until 16)
      .map(i => s"CASE WHEN x.m$i = y.m$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH $minhashPairsCtes,
       |$pairInterSql
       |SELECT CAST(p.a_id AS BIGINT) AS a_id, CAST(p.b_id AS BIGINT) AS b_id,
       |  round(($matches) / 16.0, 4) AS est_jaccard,
       |$sigPairsTailSql""".stripMargin
  }

  /** Incremental FUZZY dedup — d08's near-duplicate counterpart. The
    * standing corpus is represented ONLY by its LSH band index
    * ([[minhashBands]]: 4 (band, bsig) rows per doc — the corpus text is
    * never re-read, and the index is a few dozen bytes per document at any
    * corpus size); an arriving batch (doc_id ≡ 0 mod 5 here) computes its
    * own bands map-side and drops any document sharing ANY band signature
    * with the corpus. Two keyed hops: a semi-join on (band, bsig) finds
    * colliders, an anti-join on doc_id keeps the rest — no pairwise stage,
    * no window. This is the daily-ingest topology production MinHash dedup
    * runs: train the index once, then each increment is
    * O(batch × 4 lookups). */
  private def d12(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir).documentsSpread
    val corpusIndex = minhashBands(docs.filter(col("doc_id") % 5 =!= 0))
      .select(col("band"), col("bsig")).distinct()
    val batchBands = minhashBands(docs.filter(col("doc_id") % 5 === 0))
    val colliding = batchBands
      .join(corpusIndex, Seq("band", "bsig"), "left_semi")
      .select(col("doc_id")).distinct()
    batchBands.select(col("doc_id")).distinct()
      .join(colliding, Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id"))
  }

  private val d12Sql =
    s"""WITH $minhashPairsCtes,
       |corp_index AS (
       |  SELECT DISTINCT band, bsig FROM bands WHERE doc_id % 5 <> 0),
       |batch_bands AS (
       |  SELECT doc_id, band, bsig FROM bands WHERE doc_id % 5 = 0),
       |colliding AS (
       |  SELECT DISTINCT b.doc_id
       |  FROM batch_bands b
       |  JOIN corp_index c ON c.band = b.band AND c.bsig = b.bsig)
       |SELECT DISTINCT CAST(doc_id AS BIGINT) AS doc_id
       |FROM batch_bands
       |WHERE doc_id NOT IN (SELECT doc_id FROM colliding)
       |ORDER BY doc_id""".stripMargin

  /** Cross-document repeated-span detection — the distributed shape of
    * exact-substring dedup ("Deduplicating Training Data Makes Language
    * Models Better", Lee et al. 2022, which removes ≥50-token substrings
    * occurring twice in the corpus; suffix arrays don't distribute, so the
    * production approximation is fixed-width gram matching). A word-6-gram
    * occurring in ≥2 distinct documents marks its positions as duplicated;
    * consecutive duplicated positions merge into spans (gaps-and-islands),
    * and per doc we report the duplicated-gram fraction and the longest
    * span — the two signals a span-scrub stage thresholds on.
    *
    * Topology at 100 TB: explode to (doc, pos, gram-hash) — 8-byte keys,
    * never gram strings past the hash; doc-frequency is a two-level keyed
    * aggregate (distinct (gram, doc), then count per gram — both map-side
    * partial); the dup-position join is an equi-join on the hash; the
    * islands pass is a window partitioned by doc_id (cluster-local, no
    * global order). Nothing pairwise, nothing driver-side. */
  def repeatedSpans(docs: DataFrame, gramWords: Int = 6,
      minDocs: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gramIdx = (0 until gramWords).map(j => s"toks[i+$j]").mkString(", ")
    val base = Corpus.tokenized(docs, gramWords)
    val grams = base
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, size(toks) - $gramWords),
           |  i -> concat_ws(' ', $gramIdx))""".stripMargin))
        .as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos"), xxhash64(col("gram")).as("g"))
    val docFreq = grams.select(col("doc_id"), col("g")).distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocs)
      .select(col("g"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = grams.join(docFreq, Seq("g"))
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("doc_id"))
      .agg(sum(col("run")).as("n_dup"), max(col("run")).as("max_run"))
    base.select(col("doc_id"),
        (size(col("toks")) - (gramWords - 1)).cast("long").as("n_grams"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup_grams"),
        round(coalesce(col("n_dup"), lit(0L))
          / col("n_grams").cast("double"), 4).as("dup_fraction"),
        coalesce(col("max_run"), lit(0L)).as("max_dup_run"))
      .orderBy(col("doc_id"))
  }

  private def d13(s: SparkSession, dir: String): DataFrame =
    repeatedSpans(t(s, dir).documentsSpread)

  private val d13Sql =
    """WITH base AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |  WHERE len(string_split(text, ' ')) >= 6),
      |grams AS (
      |  SELECT doc_id, i - 1 AS pos,
      |    concat(w[i], ' ', w[i+1], ' ', w[i+2], ' ', w[i+3], ' ',
      |      w[i+4], ' ', w[i+5]) AS gram
      |  FROM base, LATERAL (SELECT unnest(range(1, len(w) - 4)) AS i) r),
      |df AS (
      |  SELECT gram FROM (
      |    SELECT gram, count(DISTINCT doc_id) AS df FROM grams GROUP BY gram) f
      |  WHERE df >= 2),
      |runs AS (
      |  SELECT doc_id, grp, count(*) AS run FROM (
      |    SELECT g.doc_id, g.pos,
      |      g.pos - row_number() OVER (PARTITION BY g.doc_id ORDER BY g.pos)
      |        AS grp
      |    FROM grams g JOIN df USING (gram)) i
      |  GROUP BY doc_id, grp),
      |agg AS (
      |  SELECT doc_id, sum(run) AS n_dup, max(run) AS max_run
      |  FROM runs GROUP BY doc_id)
      |SELECT b.doc_id,
      |  CAST(len(b.w) - 5 AS BIGINT) AS n_grams,
      |  CAST(coalesce(a.n_dup, 0) AS BIGINT) AS n_dup_grams,
      |  round(coalesce(a.n_dup, 0) / CAST(len(b.w) - 5 AS DOUBLE), 4)
      |    AS dup_fraction,
      |  CAST(coalesce(a.max_run, 0) AS BIGINT) AS max_dup_run
      |FROM base b LEFT JOIN agg a USING (doc_id)
      |ORDER BY b.doc_id""".stripMargin

  /** Content-defined-chunking dedup — the FastCDC/rsync shape: chunk
    * boundaries come from the CONTENT (positions whose 4-byte rolling
    * window hashes to 0 mod 32, expected chunk ≈ 32 bytes here), so an
    * insertion early in a document shifts only the one chunk it lands in
    * and every later chunk still matches — exactly what fixed-offset
    * blocking (m03) and whole-doc hashing (d01) cannot do. Chunks shared
    * by ≥2 distinct documents are "storage duplicates"; per doc we report
    * the shared-chunk fraction — the partial-overlap signal that catches
    * quote-heavy and template-derived documents.
    *
    * Scale: boundary detection and chunk slicing are per-row array math
    * (one codegen stage, no explode until chunks leave the row); chunk
    * doc-frequency is the same two-level keyed aggregate as d13 — distinct
    * (chunk-hash, doc), then count per hash, both map-side partial; the
    * shared-chunk join is an equi-join on the 128-bit chunk hash. Cost ∝
    * corpus bytes; nothing pairwise, no driver work. */
  private def d14(s: SparkSession, dir: String): DataFrame = {
    val chunks = t(s, dir).documentsSpread
      .withColumn("n", length(col("text")))
      .withColumn("bpos", expr(
        """CASE WHEN n >= 5 THEN filter(sequence(2, n - 3), i ->
          |  CAST(conv(substring(md5(substring(text, i, 4)), 1, 8), 16, 10)
          |    AS BIGINT) % 32 = 0)
          |ELSE array() END""".stripMargin))
      .withColumn("starts", expr("concat(array(1), bpos)"))
      .withColumn("ends", expr("concat(bpos, array(n + 1))"))
      .select(col("doc_id"), explode(expr(
        "zip_with(starts, ends, (s, e) -> substring(text, s, e - s))"))
        .as("chunk"))
      .select(col("doc_id"), md5(col("chunk")).as("h"))
      // cached: three consumers (doc-frequency, per-doc totals, shared
      // counts) would each re-run the per-character rolling-hash boundary
      // scan — the cache holds only (doc_id, 128-bit hash) rows
      .cache()
    val shared = chunks.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
      .select(col("h"))
    val perDoc = chunks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"))
    val sharedPerDoc = chunks.join(shared, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
    perDoc.join(sharedPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared_chunks"),
        round(coalesce(col("n_shared"), lit(0L))
          / col("n_chunks").cast("double"), 4).as("shared_fraction"))
      .orderBy(col("doc_id"))
  }

  private val d14Sql =
    """WITH base AS (
      |  SELECT doc_id, text, length(text) AS n FROM documents),
      |pos AS (
      |  SELECT doc_id, text, n,
      |    list_filter(range(2, n - 2), i ->
      |      ('0x' || substr(md5(substr(text, CAST(i AS INT), 4)), 1, 8))::BIGINT
      |        % 32 = 0) AS bpos
      |  FROM base),
      |bounds AS (
      |  SELECT doc_id, text,
      |    [1] || bpos AS starts, bpos || [n + 1] AS ends
      |  FROM pos),
      |chunks AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(starts) + 1), j ->
      |      substr(text, CAST(starts[CAST(j AS INT)] AS INT),
      |        CAST(ends[CAST(j AS INT)] - starts[CAST(j AS INT)] AS INT))))
      |      AS chunk
      |  FROM bounds),
      |shared AS (
      |  SELECT chunk FROM (
      |    SELECT chunk, count(DISTINCT doc_id) AS df FROM chunks GROUP BY chunk)
      |  WHERE df >= 2),
      |per_doc AS (
      |  SELECT doc_id, count(*) AS n_chunks FROM chunks GROUP BY doc_id),
      |shared_per_doc AS (
      |  SELECT c.doc_id, count(*) AS n_shared
      |  FROM chunks c JOIN shared s ON s.chunk = c.chunk
      |  GROUP BY c.doc_id)
      |SELECT p.doc_id,
      |  CAST(p.n_chunks AS BIGINT) AS n_chunks,
      |  CAST(coalesce(s.n_shared, 0) AS BIGINT) AS n_shared_chunks,
      |  round(coalesce(s.n_shared, 0) / CAST(p.n_chunks AS DOUBLE), 4)
      |    AS shared_fraction
      |FROM per_doc p LEFT JOIN shared_per_doc s USING (doc_id)
      |ORDER BY p.doc_id""".stripMargin

  /** LSH tuning gate — the dedup analogue of s08's ANN recall: how much of
    * the TRUE near-dup pair set (exact shingle Jaccard ≥ 1/2, d02's
    * definition) does the MinHash-LSH candidate generator (d03's 4×4
    * banding) recover, and how much of what it emits is real? One summary
    * row: true/candidate/hit counts plus recall and precision. This is the
    * number you move when tuning bands × rows against the banding S-curve
    * (P[candidate] = 1 − (1 − J^r)^b) before committing a corpus-scale run.
    *
    * Scale: ground truth costs d02's exact candidate join, so on 100 TB
    * this gate runs on a SAMPLED slice (compose with x01's hash sample in
    * front — both stages take any (doc_id, text) frame); the LSH side and
    * the hit join are the same keyed group-and-expand machinery as
    * d03/d02. The summary is three 1-row aggregates cross-joined —
    * broadcast by construction. */
  private def d15(s: SparkSession, dir: String): DataFrame =
    recallGate(s, dir)(base =>
      lshPairsFromBands(minhashBandsFromToks(base), None))

  /** d15/d20's shared gate: recall and precision of a candidate pair
    * generator against the true near-dup pairs (exact shingle Jaccard
    * ≥ 1/2). ONE scan + spread + tokenize subtree (doc_id, lang, toks)
    * feeds both the ground-truth side and `candidates` — they diverge
    * only after tokenization, and there is no plan-internal subtree
    * reuse in Spark. The true and candidate pair frames are cached:
    * each feeds its own count AND the hits join. The ground-truth side
    * takes the UNORDERED Jaccard core (d02's output orderBy would be a
    * range exchange + sort this count/join consumer never needs). */
  private def recallGate(s: SparkSession, dir: String)(
      candidates: DataFrame => DataFrame): DataFrame = {
    val base = Corpus.tokenized(t(s, dir).documentsSpread)
      .select(col("doc_id"), col("lang"), col("toks")).cache()
    val truePairs = ngramJaccardFrom(shingleHashArraysFromToks(base), None)
      .select(col("a_id"), col("b_id")).cache()
    val cand = candidates(base).cache()
    val hits = truePairs.join(cand, Seq("a_id", "b_id"))
    truePairs.agg(count(lit(1)).as("n_true"))
      .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
      .crossJoin(hits.agg(count(lit(1)).as("n_hits")))
      .select(col("n_true"), col("n_candidates"), col("n_hits"),
        // empty denominators (a pre-deduped or tiny sample slice) report
        // NULL, not NaN — and keep the two engines' divide-by-zero
        // semantics out of the hash gate
        when(col("n_true") > 0,
          round(col("n_hits") / col("n_true").cast("double"), 4))
          .as("recall"),
        when(col("n_candidates") > 0,
          round(col("n_hits") / col("n_candidates").cast("double"), 4))
          .as("candidate_precision"))
  }

  private val d15Sql =
    s"""WITH $minhashPairsCtes,
       |$truePairsSql,
       |${recallSql("pairs", "p")}""".stripMargin

  /** SimHash tuning gate — d15's twin for the OTHER approximate near-dup
    * family: how much of the true near-dup pair set (exact shingle
    * Jaccard ≥ 1/2, d02's definition) does d04's 32-bit SimHash with
    * pigeonhole banding (hamming ≤ 3) recover, and how precise are its
    * candidates? SimHash and MinHash-LSH trade differently (SimHash
    * fingerprints are 4 bytes/doc and token-weighted; banding recall
    * follows the hamming spectrum, not the Jaccard S-curve) — a corpus
    * run picks between them with exactly this pair of gates on a sample.
    *
    * Scale: ground truth is d02's exact machinery → run on a sampled
    * slice at 100 TB (compose x01 in front); the candidate side is the
    * same (band, byte) equi-join as production d04, nothing pairwise.
    *
    * Measured on the synthetic corpus (sf0.1): recall 0.71, candidate
    * precision 1e-4 — the shared ~40-word vocabulary makes 32-bit
    * fingerprints collide heavily, so banding barely blocks. That is the
    * gate doing its job: on THIS corpus it rules out SimHash in favor of
    * d03's shingle-based LSH (precision ~1) before any corpus-scale run
    * is committed. */
  private def d20(s: SparkSession, dir: String): DataFrame =
    // the SimHash side reads `toks` directly — simhash32 over the same
    // split the ground-truth side shingles
    recallGate(s, dir)(base => simhashNearDups(base.select(col("doc_id"),
      SimHash32.simhash32(col("toks")).as("simhash")))
      .select(col("a_id"), col("b_id")))

  private val d20Sql = {
    val h = StableHash.duckH32("tok")
    s"""WITH $shinglesSql,
       |$truePairsSql,
       |stoks AS (
       |  SELECT DISTINCT doc_id, tok FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |    FROM documents) u),
       |sth AS (SELECT doc_id, $h AS h FROM stoks),
       |sbits AS (
       |  SELECT doc_id, j,
       |    sum(CASE WHEN (h >> CAST(j AS INT)) % 2 = 1 THEN 1 ELSE -1 END)
       |      AS vote
       |  FROM sth, (SELECT unnest(range(32)) AS j) js
       |  GROUP BY doc_id, j),
       |sims AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN vote > 0 THEN CAST(pow(2, j) AS BIGINT)
       |      ELSE 0 END) AS BIGINT) AS simhash
       |  FROM sbits GROUP BY doc_id),
       |sbands AS (
       |  SELECT doc_id, simhash, b AS band, (simhash >> (8 * b)) & 255 AS bv
       |  FROM sims, (SELECT CAST(unnest(range(4)) AS INT) AS b) bs),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
       |  FROM sbands x JOIN sbands y
       |    ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id
       |  WHERE bit_count(xor(x.simhash, y.simhash)) <= 3),
       |${recallSql("cand", "c")}""".stripMargin
  }

  /** Jaccard threshold sweep — the dedup family's tuning curve (s14's
    * `nprobe` sweep transposed to near-dup): for cutoff τ ∈ {0.3, 0.5,
    * 0.7}, how many candidate pairs pass and how many documents a
    * drop-the-larger-id policy would remove. One run answers "how much of
    * the corpus does each aggressiveness level cost?" BEFORE committing a
    * 100 TB dedup pass — the difference between τ = 0.5 and τ = 0.7 is
    * routinely several percent of the training budget.
    *
    * Scale design: the candidate pair frame is computed ONCE (d02's
    * single-shuffle group-and-expand on 64-bit shingle hashes); the sweep
    * is the 3-row level table broadcast across it with per-level
    * aggregates — never a re-scan per threshold. The pass decision is the
    * integer inequality i·(1000+τ‰) ≥ τ‰·(|A|+|B|)  ⟺  J ≥ τ — no float
    * in the decision, bit-identical in both engines. */
  private def d22(s: SparkSession, dir: String): DataFrame = {
    val arr = shingleHashArrays(t(s, dir).documentsSpread).cache()
    val sizes = arr.select(col("doc_id"), col("n_sh"))
    val pairs = candidatesFromArrays(arr, None)
      .join(sizes.select(col("doc_id").as("a_id"), col("n_sh").as("na")),
        "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("n_sh").as("nb")),
        "b_id")
    val levels = s.range(3)
      .select((col("id") * 200 + 300).as("tau_permille"))
    val perLevel = broadcast(levels).join(pairs, lit(true))
      .withColumn("pass",
        col("n_inter") * (lit(1000) + col("tau_permille"))
          >= col("tau_permille") * (col("na") + col("nb")))
      .groupBy(col("tau_permille"))
      .agg(sum(when(col("pass"), 1L).otherwise(0L)).as("n_pairs"),
        countDistinct(when(col("pass"), col("b_id"))).as("n_docs_dropped"))
    // fill from the level table (3-row join): the sweep report keeps its
    // 3 rows (n_pairs = 0) even when the corpus has no candidate pairs at
    // all (tiny SFs) — an empty report reads as "sweep didn't run"
    levels.join(perLevel, Seq("tau_permille"), "left")
      .select(col("tau_permille"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_dropped"), lit(0L)).as("n_docs_dropped"))
      .orderBy(col("tau_permille"))
  }

  private val d22Sql =
    s"""WITH $shinglesSql,
       |$shingleInterSql,
       |levels AS (
       |  SELECT CAST(unnest([300, 500, 700]) AS BIGINT) AS tau_permille),
       |j AS (
       |  SELECT l.tau_permille, i.b_id,
       |    CASE WHEN i.n_inter * (1000 + l.tau_permille)
       |           >= l.tau_permille * (sa.n_sh + sb.n_sh)
       |      THEN 1 ELSE 0 END AS pass
       |  FROM inter i
       |  JOIN sizes sa ON sa.doc_id = i.a_id
       |  JOIN sizes sb ON sb.doc_id = i.b_id
       |  CROSS JOIN levels l),
       |per_level AS (
       |  SELECT tau_permille, CAST(sum(pass) AS BIGINT) AS n_pairs,
       |    CAST(count(DISTINCT CASE WHEN pass = 1 THEN b_id END) AS BIGINT)
       |      AS n_docs_dropped
       |  FROM j GROUP BY tau_permille)
       |SELECT l.tau_permille,
       |  coalesce(p.n_pairs, 0) AS n_pairs,
       |  coalesce(p.n_docs_dropped, 0) AS n_docs_dropped
       |FROM levels l LEFT JOIN per_level p USING (tau_permille)
       |ORDER BY tau_permille""".stripMargin

  /** b-bit MinHash calibration (Li & König, WWW 2010): store only the
    * lowest b = 2 bits of each of the 16 signature components — 4 bytes of
    * index per document instead of 64 — and recover Jaccard from the
    * matched-bit fraction with the collision correction
    * Ĵ = (M − C)/(1 − C), where C = 2^-b is the chance two UNRELATED
    * components agree on their low bits. With b = 2 that is exactly
    * (m − 4)/12 over the 16 components — integer-rational, bit-identical
    * in both engines. At 100 TB the signature store is often the binding
    * memory (a trillion docs × 64 B is 64 TB of index); b-bit storage cuts
    * it 16× while this query measures what the truncation costs: each d03
    * candidate pair carries the full-precision estimate, the 2-bit
    * estimate, and the exact shingle Jaccard, so an operator reads the
    * estimator spread directly before committing the cheaper index.
    *
    * Scale shape: identical to d11 — signatures are one codegen'd map pass,
    * pairs come from the banded LSH join, and the exact-Jaccard audit
    * touches only the candidate pairs' own shingle arrays. The 2-bit
    * truncation is a per-row mask on an in-row array: zero extra shuffles
    * over d11. */
  private def d21(s: SparkSession, dir: String): DataFrame =
    sigPairs(s, dir)
      .withColumn("m_full", expr(
        "size(filter(zip_with(a_sigs, b_sigs, (x, y) -> x = y), v -> v))"))
      .withColumn("m_bbit", expr(
        "size(filter(zip_with(a_sigs, b_sigs, (x, y) -> x % 4 = y % 4), v -> v))"))
      .withColumn("n_inter", pairInter)
      .select(col("a_id"), col("b_id"),
        round(col("m_full") / 16.0, 4).as("est_full"),
        round((col("m_bbit") - 4) / 12.0, 4).as("est_bbit"), trueJaccard)
      .orderBy(col("a_id"), col("b_id"))

  private val d21Sql = {
    val mFull = (0 until 16)
      .map(i => s"CASE WHEN x.m$i = y.m$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    val mBbit = (0 until 16)
      .map(i => s"CASE WHEN x.m$i % 4 = y.m$i % 4 THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH $minhashPairsCtes,
       |$pairInterSql
       |SELECT CAST(p.a_id AS BIGINT) AS a_id, CAST(p.b_id AS BIGINT) AS b_id,
       |  round(($mFull) / 16.0, 4) AS est_full,
       |  round((($mBbit) - 4) / 12.0, 4) AS est_bbit,
       |$sigPairsTailSql""".stripMargin
  }

  /** Containment near-dup — the asymmetric cousin of d02's Jaccard:
    * `n_inter / min(|A|, |B|)`. A 200-word excerpt quoted inside a
    * 10,000-word page has near-zero Jaccard (the union is huge) but
    * containment ≈ 1; corpus curation needs this to catch quotes,
    * syndicated excerpts, and documents embedded in aggregator pages,
    * which symmetric similarity misses by construction.
    *
    * Scale design: identical to d02 — the same single-shuffle
    * group-and-expand candidate generation on the 64-bit shingle key
    * (nothing pairwise ever sees the corpus), the same free per-doc set
    * sizes from the shingle arrays; only the row-local score and
    * threshold differ. Candidates below 0.8 containment are dropped
    * after the exact intersection count, so the pair set is exact, not
    * LSH-approximate. */
  private def d16(s: SparkSession, dir: String): DataFrame = {
    val arr = shingleHashArrays(t(s, dir).documentsSpread).cache()
    val sizes = arr.select(col("doc_id"), col("n_sh"))
    candidatesFromArrays(arr, None)
      .join(sizes.select(col("doc_id").as("a_id"), col("n_sh").as("na")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("n_sh").as("nb")), "b_id")
      .withColumn("containment", round(
        col("n_inter") / least(col("na"), col("nb")).cast("double"), 4))
      .filter(col("containment") >= 0.8)
      .select(col("a_id"), col("b_id"), col("na"), col("nb"),
        col("containment"))
      .orderBy(col("a_id"), col("b_id"))
  }

  private val d16Sql =
    s"""WITH $shinglesSql,
       |$shingleInterSql
       |SELECT CAST(a_id AS BIGINT) AS a_id, CAST(b_id AS BIGINT) AS b_id,
       |  CAST(sa.n_sh AS BIGINT) AS na, CAST(sb.n_sh AS BIGINT) AS nb,
       |  round(n_inter / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE), 4)
       |    AS containment
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = a_id
       |JOIN sizes sb ON sb.doc_id = b_id
       |WHERE round(n_inter / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE), 4)
       |  >= 0.8
       |ORDER BY a_id, b_id""".stripMargin

  /** Cross-document repeated-substring detection — the heavyweight
    * training-corpus op d13 does not cover: d13 scores grams repeated
    * ACROSS docs but reports per-doc totals; this finds, for every document
    * PAIR, the maximal shared word spans (verbatim quotes, syndicated
    * passages, licence blocks) — the substrings "dedup by long repeated
    * sequence" removes in LLM corpus practice.
    *
    * Algorithm: every `gramWords`-gram is a position-sensitive rotate-xor
    * combine of its token xxhashes (same trick as [[shingleHashArrays]] —
    * no gram string survives past the tokenizer); occurrences of each gram
    * hash are gathered with ONE keyed aggregate and expanded to cross-doc
    * (a, b) position pairs group-and-expand style (d02's topology — never
    * a self-join, never cartesian). Two grams belong to the same maximal
    * span iff they sit on the same alignment diagonal (a_pos − b_pos) at
    * consecutive positions, so spans are islands over (pair, diagonal) —
    * a window partitioned by (a_id, b_id, diag), cluster-local, no global
    * order. A run of `r` consecutive matching grams is a shared span of
    * `r + gramWords − 1` words.
    *
    * Scale: explode volume is one 8-byte hash per word position (the same
    * budget d02 pays); `maxGramFreq` is the hot-gram cap — a boilerplate
    * gram in k docs expands k·(k−1)/2 pairs, so grams above the cap are
    * dropped before expansion (a `size(occs) ≤ F` filter on the gathered
    * list, free). True long spans survive the cap through their many
    * other, rarer grams — only if a span's EVERY gram is corpus-ubiquitous
    * is it lost, and such spans are boilerplate by definition. */
  def crossDocSpans(docs: DataFrame, gramWords: Int = 8,
      minSpanWords: Int = 12, maxGramFreq: Option[Int] = None): DataFrame =
    spanRuns(docs, gramWords, maxGramFreq)
      .filter(col("span_words") >= minSpanWords)
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_spans"),
        max(col("span_words")).as("max_span_words"),
        sum(col("span_words")).cast("long").as("dup_words"))
      .orderBy(col("a_id"), col("b_id"))

  /** Shared maximal-run computation for [[crossDocSpans]] (reporting) and
    * [[scrubCrossDocSpans]] (removal): one row per maximal aligned run —
    * (a_id, b_id, a_start, b_start, span_words). */
  /** (doc_id, pos, g): the position-sensitive 64-bit hash of every
    * `gramWords`-gram — the shared front end of the span family. */
  private def gramHashes(docs: DataFrame, gramWords: Int): DataFrame = {
    // rotation step 13 is coprime with 64, so all positions j < 64 get
    // DISTINCT rotations — a step of 8 cycles with period 8, making the
    // hash invariant under swapping tokens 8 slots apart for gramWords > 8
    require(gramWords >= 2 && gramWords <= 64,
      "gramWords must be in [2, 64] (position rotations repeat past 64)")
    val combine = (0 until gramWords).map { j =>
      val r = (j * 13) % 64
      if (r == 0) s"th[i+$j]"
      else s"(shiftleft(th[i+$j], $r) | shiftrightunsigned(th[i+$j], ${64 - r}))"
    }.mkString(" ^ ")
    Corpus.tokenized(docs, gramWords)
      .withColumn("th", expr("transform(toks, t -> xxhash64(t))"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(th) - $gramWords), i -> $combine)"))
        .as(Seq("pos", "g")))
  }

  private def spanRuns(docs: DataFrame, gramWords: Int,
      maxGramFreq: Option[Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = gramHashes(docs, gramWords)
    val grouped = grams.groupBy(col("g"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("pos"))))
        .as("occs"))
      .filter(size(col("occs")) > 1)
    val kept = maxGramFreq.fold(grouped)(f =>
      grouped.filter(size(col("occs")) <= f))
    // occs is sorted by (doc_id, pos), so i<j expansion gives a_id ≤ b_id;
    // the filter drops within-doc pairs (d13's territory), keeping a_id < b_id
    val matches = kept
      .select(explode(expr(
        """filter(
          |  flatten(transform(occs, (x, i) ->
          |    transform(slice(occs, i + 2, size(occs)),
          |      y -> struct(x.doc_id AS a_id, x.pos AS a_pos,
          |                  y.doc_id AS b_id, y.pos AS b_pos)))),
          |  p -> p.a_id != p.b_id)""".stripMargin)).as("p"))
      .select(col("p.a_id").as("a_id"), col("p.a_pos").as("a_pos"),
        col("p.b_id").as("b_id"), col("p.b_pos").as("b_pos"))
    // within a (pair, diagonal) partition a_pos is unique (b_pos = a_pos −
    // diag), so pos − row_number islands find exactly the consecutive runs
    val w = Window.partitionBy(col("a_id"), col("b_id"), col("diag"))
      .orderBy(col("a_pos"))
    matches
      .withColumn("diag", col("a_pos") - col("b_pos"))
      .withColumn("grp", col("a_pos") - row_number().over(w))
      .groupBy(col("a_id"), col("b_id"), col("diag"), col("grp"))
      .agg(min(col("a_pos")).as("a_start"), min(col("b_pos")).as("b_start"),
        (count(lit(1)) + lit(gramWords - 1)).cast("long").as("span_words"))
      .drop("diag", "grp")
  }

  /** Cross-document repeated-substring REMOVAL — the apply step to
    * [[crossDocSpans]]'s report, and the operation LLM corpus curation
    * actually ships ("dedup by long repeated substring": drop verbatim
    * passages that already appear in an earlier document, keeping the
    * first occurrence). For every maximal shared span, the occurrence in
    * the HIGHER doc_id (the b-side) is scrubbed: its word positions are
    * dropped and the surviving words are re-joined. Emits one row per doc
    * with the retained text's md5 (cheap to compare/oracle), word counts,
    * and removed-word count.
    *
    * Scale: [[spanRuns]]'s topology (group-and-expand, no joins on
    * exploded rows) plus ONE keyed aggregate collecting each doc's covered
    * ranges (few per doc) and one equi-join of docs to ranges; the
    * per-row scrub is array lambdas over the doc's own words. */
  def scrubCrossDocSpans(docs: DataFrame, gramWords: Int = 8,
      minSpanWords: Int = 12, maxGramFreq: Option[Int] = None): DataFrame =
    applyScrub(docs,
      spanRuns(docs, gramWords, maxGramFreq)
        .filter(col("span_words") >= minSpanWords)
        .select(col("b_id").as("doc_id"), col("b_start").as("lo"),
          (col("b_start") + col("span_words") - 1).as("hi")))

  /** Shared scrub tail: drop each doc's covered word positions and emit
    * (doc_id, n_words, n_removed_words, clean_md5). `spans` carries one
    * (doc_id, lo, hi) row per covered range. */
  private def applyScrub(docs: DataFrame, spans: DataFrame): DataFrame = {
    val ranges = spans
      .select(col("doc_id"),
        struct(col("lo"), col("hi")).as("rng"))
      .groupBy(col("doc_id"))
      .agg(collect_list(col("rng")).as("ranges"))
    docs
      .withColumn("ws", Corpus.tokens())
      .join(ranges, Seq("doc_id"), "left")
      .withColumn("kept", expr(
        """filter(ws, (x, i) -> ranges IS NULL
          |  OR NOT exists(ranges, r -> i >= r.lo AND i <= r.hi))"""
          .stripMargin))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        (size(col("ws")) - size(col("kept"))).cast("long")
          .as("n_removed_words"),
        md5(concat_ws(" ", col("kept"))).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  /** Incremental cross-doc span scrub — the INGEST-time twin of
    * [[scrubCrossDocSpans]]: scrub an incoming batch against a STANDING
    * corpus without ever re-pairing the corpus with itself. This is the
    * shape a 100 TB pipeline actually runs after the initial backfill —
    * per-batch cost is proportional to the batch, not the corpus.
    *
    * Topology: the corpus's gram index (8-byte hash, position) is an
    * equi-join target; the incoming batch's grams probe it (AQE broadcasts
    * whichever side is small — for steady-state ingest that is the batch).
    * Matches fall onto alignment diagonals exactly as in [[spanRuns]];
    * runs ≥ `minSpanWords` become covered ranges on the INCOMING side
    * only, and the batch is scrubbed with the same array-lambda tail as
    * d18. Batch-internal duplication is deliberately out of scope here —
    * that is d01/d08/d18's job.
    *
    * `maxGramFreq` caps the CORPUS-side frequency of a gram (count +
    * left-semi join, the join-topology analogue of d02's gather-side
    * filter): a boilerplate gram in k corpus docs would multiply every
    * probing occurrence by k. */
  def incrementalSpanScrub(corpus: DataFrame, incoming: DataFrame,
      gramWords: Int = 8, minSpanWords: Int = 12,
      maxGramFreq: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cgAll = gramHashes(corpus, gramWords)
      .select(col("doc_id").as("c_id"), col("pos").as("c_pos"), col("g"))
    val cg = maxGramFreq.fold(cgAll) { f =>
      cgAll.join(
        cgAll.groupBy(col("g")).agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") <= f).select(col("g")),
        Seq("g"), "left_semi")
    }
    val ng = gramHashes(incoming, gramWords)
      .select(col("doc_id").as("n_id"), col("pos").as("n_pos"), col("g"))
    val w = Window.partitionBy(col("n_id"), col("c_id"), col("diag"))
      .orderBy(col("n_pos"))
    val spans = ng.join(cg, Seq("g"))
      .withColumn("diag", col("n_pos") - col("c_pos"))
      .withColumn("grp", col("n_pos") - row_number().over(w))
      .groupBy(col("n_id"), col("c_id"), col("diag"), col("grp"))
      .agg(min(col("n_pos")).as("n_start"),
        (count(lit(1)) + lit(gramWords - 1)).cast("long").as("span_words"))
      .filter(col("span_words") >= minSpanWords)
      .select(col("n_id").as("doc_id"), col("n_start").as("lo"),
        (col("n_start") + col("span_words") - 1).as("hi"))
    applyScrub(incoming, spans)
  }

  private def d19(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir).documentsSpread
    incrementalSpanScrub(
      corpus = docs.filter(col("doc_id") % 5 =!= 0),
      incoming = docs.filter(col("doc_id") % 5 === 0))
  }

  private val d19Sql =
    s"""WITH corpus AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |  WHERE doc_id % 5 <> 0 AND len(string_split(text, ' ')) >= 8),
      |batch AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |  WHERE doc_id % 5 = 0 AND len(string_split(text, ' ')) >= 8),
      |grams_c AS (
      |  SELECT doc_id AS c_id, i - 1 AS c_pos,
      |    concat(w[i], ' ', w[i+1], ' ', w[i+2], ' ', w[i+3], ' ',
      |      w[i+4], ' ', w[i+5], ' ', w[i+6], ' ', w[i+7]) AS gram
      |  FROM corpus, LATERAL (SELECT unnest(range(1, len(w) - 6)) AS i) r),
      |grams_n AS (
      |  SELECT doc_id AS n_id, i - 1 AS n_pos,
      |    concat(w[i], ' ', w[i+1], ' ', w[i+2], ' ', w[i+3], ' ',
      |      w[i+4], ' ', w[i+5], ' ', w[i+6], ' ', w[i+7]) AS gram
      |  FROM batch, LATERAL (SELECT unnest(range(1, len(w) - 6)) AS i) r),
      |isl AS (
      |  SELECT n_id, c_id, n_pos,
      |    n_pos - c_pos AS diag,
      |    n_pos - row_number() OVER (
      |      PARTITION BY n_id, c_id, n_pos - c_pos ORDER BY n_pos) AS grp
      |  FROM grams_n JOIN grams_c USING (gram)),
      |runs AS (
      |  SELECT n_id, min(n_pos) AS n_start, count(*) + 7 AS span_words
      |  FROM isl GROUP BY n_id, c_id, diag, grp),
      |covered AS (
      |  SELECT DISTINCT n_id AS doc_id, n_start + o AS pos
      |  FROM runs, LATERAL (SELECT unnest(range(0, span_words)) AS o) x
      |  WHERE span_words >= 12),
      |words AS (
      |  SELECT doc_id, i - 1 AS pos, w[i] AS word
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |        WHERE doc_id % 5 = 0) d,
      |    LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i) r),
      |kept AS (
      |  SELECT wo.doc_id, count(*) AS n_kept,
      |    string_agg(wo.word, ' ' ORDER BY wo.pos) AS clean_text
      |  FROM words wo LEFT JOIN covered c
      |    ON c.doc_id = wo.doc_id AND c.pos = wo.pos
      |  WHERE c.pos IS NULL
      |  GROUP BY wo.doc_id),
      |totals AS (
      |  SELECT doc_id, len(string_split(text, ' ')) AS n_words
      |  FROM documents WHERE doc_id % 5 = 0)
      |$scrubSelectSql""".stripMargin

  private def d18(s: SparkSession, dir: String): DataFrame =
    scrubCrossDocSpans(t(s, dir).documentsSpread)

  private val d18Sql =
    s"""WITH $spanMatchesSql,
      |isl AS (
      |  SELECT a_id, b_id, a_pos, b_pos,
      |    a_pos - b_pos AS diag,
      |    a_pos - row_number() OVER (
      |      PARTITION BY a_id, b_id, a_pos - b_pos ORDER BY a_pos) AS grp
      |  FROM matches),
      |runs AS (
      |  SELECT b_id, min(b_pos) AS b_start, count(*) + 7 AS span_words
      |  FROM isl GROUP BY a_id, b_id, diag, grp),
      |covered AS (
      |  SELECT DISTINCT b_id AS doc_id, b_start + o AS pos
      |  FROM runs, LATERAL (SELECT unnest(range(0, span_words)) AS o) x
      |  WHERE span_words >= 12),
      |words AS (
      |  SELECT doc_id, i - 1 AS pos, w[i] AS word
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d,
      |    LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i) r),
      |kept AS (
      |  SELECT wo.doc_id,
      |    count(*) AS n_kept,
      |    string_agg(wo.word, ' ' ORDER BY wo.pos) AS clean_text
      |  FROM words wo LEFT JOIN covered c
      |    ON c.doc_id = wo.doc_id AND c.pos = wo.pos
      |  WHERE c.pos IS NULL
      |  GROUP BY wo.doc_id),
      |totals AS (
      |  SELECT doc_id, len(string_split(text, ' ')) AS n_words
      |  FROM documents)
      |$scrubSelectSql""".stripMargin

  private def d17(s: SparkSession, dir: String): DataFrame =
    crossDocSpans(t(s, dir).documentsSpread)

  private val d17Sql =
    s"""WITH $spanMatchesSql,
      |isl AS (
      |  SELECT a_id, b_id, a_pos,
      |    a_pos - b_pos AS diag,
      |    a_pos - row_number() OVER (
      |      PARTITION BY a_id, b_id, a_pos - b_pos ORDER BY a_pos) AS grp
      |  FROM matches),
      |runs AS (
      |  SELECT a_id, b_id, count(*) + 7 AS span_words
      |  FROM isl GROUP BY a_id, b_id, diag, grp),
      |spans AS (SELECT * FROM runs WHERE span_words >= 12)
      |SELECT CAST(a_id AS BIGINT) AS a_id, CAST(b_id AS BIGINT) AS b_id,
      |  CAST(count(*) AS BIGINT) AS n_spans,
      |  CAST(max(span_words) AS BIGINT) AS max_span_words,
      |  CAST(sum(span_words) AS BIGINT) AS dup_words
      |FROM spans GROUP BY a_id, b_id
      |ORDER BY a_id, b_id""".stripMargin

  /** Dedup survivorship report — the headline numbers a dedup run ships:
    * the duplicate-cluster size distribution and how many documents a
    * keep-one-per-cluster policy removes at each size (plus the singleton
    * row, so the size column's doc mass sums to the corpus and the report
    * is self-auditing). Cluster size tails are how operators spot
    * mirror-flood pathologies BEFORE committing the removal.
    *
    * Scale shape: d06's pointer-doubling components (O(log d) rounds over
    * keyed joins), then two constant-size aggregates — sizes per
    * component, clusters per size. The singleton row costs two 1-row
    * aggregates. Nothing here adds shuffle structure beyond d06 itself. */
  private def d23(s: SparkSession, dir: String): DataFrame = {
    val comps = connectedComponents(minhashPairs(s, dir))
    val sizes = comps.groupBy(col("component")).agg(count(lit(1)).as("k"))
    val multi = sizes.groupBy(col("k").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        ((col("cluster_size") - 1) * col("n_clusters")).as("docs_removable"))
    val singles = t(s, dir).documents.agg(count(lit(1)).as("n_docs"))
      .crossJoin(comps.agg(count(lit(1)).as("n_members")))
      .select(lit(1L).as("cluster_size"),
        (col("n_docs") - col("n_members")).as("n_clusters"),
        lit(0L).as("docs_removable"))
    singles.unionByName(multi).orderBy(col("cluster_size"))
  }

  private val d23Sql =
    s"""WITH RECURSIVE $minhashPairsCtes,
       |$componentsSql,
       |comp AS (SELECT v, min(r) AS component FROM reach GROUP BY v),
       |csize AS (SELECT component, count(*) AS k FROM comp GROUP BY component),
       |multi AS (
       |  SELECT CAST(k AS BIGINT) AS cluster_size,
       |    CAST(count(*) AS BIGINT) AS n_clusters,
       |    CAST((k - 1) * count(*) AS BIGINT) AS docs_removable
       |  FROM csize GROUP BY k)
       |SELECT CAST(1 AS BIGINT) AS cluster_size,
       |  CAST((SELECT count(*) FROM documents)
       |    - (SELECT count(*) FROM comp) AS BIGINT) AS n_clusters,
       |  CAST(0 AS BIGINT) AS docs_removable
       |UNION ALL
       |SELECT cluster_size, n_clusters, docs_removable FROM multi
       |ORDER BY cluster_size""".stripMargin

  /** Edit-distance-verified near-dup — the third verify metric for the LSH
    * candidate stage (d02 verifies exact shingle Jaccard, d11 calibrates
    * the signature estimate; edit distance catches in-place edits — typo
    * fixes, entity swaps, template fills — that shingle overlap scores the
    * same as genuine divergence). Candidates come from the SAME d03 band
    * index; the verify pass computes banded Levenshtein with a per-pair
    * budget of ⌊maxlen/5⌋ (normalized distance ≤ 0.2 ⇔ dup). The
    * threshold is the scale lever: Spark's three-arg `levenshtein` runs
    * the banded O(len·thr) algorithm and answers −1 the moment the band
    * is exceeded, so a divergent pair costs ~len·len/5 cell visits, never
    * the full len² matrix — and the stage stays candidates-bounded (a
    * keyed join back to text, no pairwise corpus scan). */
  private def d24(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir).documentsSpread
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
    minhashLshPairs(t(s, dir).documentsSpread)
      .join(docs.select(col("doc_id").as("a_id"), col("text").as("a_text"),
        col("len").as("a_len")), "a_id")
      .join(docs.select(col("doc_id").as("b_id"), col("text").as("b_text"),
        col("len").as("b_len")), "b_id")
      .withColumn("max_len",
        greatest(col("a_len"), col("b_len")).cast("long"))
      .withColumn("thr", expr("max_len div 5"))
      .withColumn("d",
        expr("levenshtein(a_text, b_text, cast(thr as int))").cast("long"))
      .select(col("a_id"), col("b_id"), col("max_len"), col("thr"),
        (col("d") >= 0L).as("is_dup"),
        when(col("d") >= 0L, col("d")).as("edit_dist"))
      .orderBy(col("a_id"), col("b_id"))
  }

  private val d24Sql =
    s"""WITH $minhashPairsCtes,
       |txt AS (SELECT doc_id, text, length(text) AS len FROM documents),
       |scored AS (
       |  SELECT p.a_id, p.b_id,
       |    CAST(greatest(a.len, b.len) AS BIGINT) AS max_len,
       |    greatest(a.len, b.len) // 5 AS thr,
       |    levenshtein(a.text, b.text) AS lev
       |  FROM pairs p
       |  JOIN txt a ON a.doc_id = p.a_id
       |  JOIN txt b ON b.doc_id = p.b_id)
       |SELECT CAST(a_id AS BIGINT) AS a_id, CAST(b_id AS BIGINT) AS b_id,
       |  max_len, CAST(thr AS BIGINT) AS thr,
       |  lev <= thr AS is_dup,
       |  CASE WHEN lev <= thr THEN CAST(lev AS BIGINT) END AS edit_dist
       |FROM scored
       |ORDER BY a_id, b_id""".stripMargin

  /** Hamming-rewrite exactness gate — the oracle-level proof of
    * [[graft.plans.HammingBlockJoinRewrite]]: the Spark side is written
    * as the NAIVE theta join (crossJoin + `hamming64 ≤ 12` filter over a
    * 64-bit fingerprint = unigram simhash ∥ bigram simhash), which the
    * session rule rewrites into one 13-block posexplode equi-join; DuckDB
    * evaluates the naive quadratic join literally. Hash-matching rows
    * therefore certify the rewrite is a strict semantic identity on real
    * data — the same certification style every other operator gets, now
    * applied to an optimizer RULE. (The composed 64-bit code also makes
    * the fingerprint family two-channel: unigram bits catch token-set
    * drift, bigram bits catch reorderings unigrams can't see.) */
  /** (doc_id [, extras], sh): the two-channel 64-bit fingerprint —
    * unigram simhash in the high word, bigram simhash in the low
    * (shared by d25/d26/d30/d36/d37/d41; `extras` lets d36 keep its
    * wide text payload without re-spelling the derivation — the ONE
    * fingerprint definition, so gate variants cannot drift). */
  private def simhash64(docs: DataFrame,
      extras: Seq[Column] = Nil): DataFrame =
    Corpus.tokenized(docs, 2)
      .withColumn("bi", Corpus.ngrams(2))
      .select(col("doc_id") +: extras :+
        // plan_fence'd VALUE (d04's discipline, applied to the column
        // instead of a filter): a null-intolerant consumer predicate —
        // d37's bit_count(a_sh ^ b_sh) spelling, unlike hamming64, which
        // declares no null intolerance — makes InferFiltersFromConstraints
        // infer isnotnull(sh), and PushDownPredicates then substitutes the
        // WHOLE two-channel fingerprint into that filter and drags it
        // below documentsSpread's repartition: the full simhash of every
        // document re-runs serialized on the single pre-shuffle scan task
        // (measured: d37 4.9 s vs its twin d25 1.8 s at sf0.1). The fence
        // pins every derived predicate above this Project, where
        // isnotnull(sh) reads the computed column for free.
        graft.functions.PlanFence.fence(
          shiftleft(SimHash32.simhash32(col("toks")), 32)
            .bitwiseOR(SimHash32.simhash32(col("bi")))).as("sh"): _*)

  /** Shared naive fingerprint-pair scaffold for d25 and its pure-SQL
    * spelling twin d37 — ONLY the predicate/distance spelling may
    * differ between the two gates (that difference IS what d37
    * certifies), so the input derivation lives once here. */
  private def simhashPairs(s: SparkSession, dir: String)(
      pred: Column, dist: Column): DataFrame = {
    val fp = simhash64(t(s, dir).documentsSpread)
    val a = fp.select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
    val b = fp.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
    a.crossJoin(b)
      .filter(col("a_id") < col("b_id") && pred)
      .select(col("a_id"), col("b_id"), dist.as("dist"))
      .orderBy(col("a_id"), col("b_id"))
  }

  private def d25(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.hamming64
    // no cache needed: the rewrite's posexplode form (round 7) scans and
    // fingerprints each side ONCE — the naive query below is exactly
    // what a user would write, and the rule alone makes it scale
    // (HammingRewriteSpec pins single-scan-per-side).
    simhashPairs(s, dir)(
      hamming64(col("a_sh"), col("b_sh")) <= 12,
      hamming64(col("a_sh"), col("b_sh")).cast("long"))
  }

  /** DuckDB CTE block ending in `fp(doc_id, sh)` — the simhash64 twin
    * (shared by d25/d26; CTE names chosen to avoid minhashPairsCtes's). */
  private val simhash64Ctes = {
    val h = StableHash.duckH32("tok")
    val hb = StableHash.duckH32("bitok")
    s"""w AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |  WHERE len(string_split(text, ' ')) >= 2),
       |uni AS (SELECT DISTINCT doc_id, tok FROM (
       |  SELECT doc_id, unnest(toks) AS tok FROM w)),
       |uh AS (SELECT doc_id, $h AS h FROM uni),
       |ubits AS (
       |  SELECT doc_id, j,
       |    sum(CASE WHEN (h >> CAST(j AS INT)) % 2 = 1 THEN 1 ELSE -1 END)
       |      AS vote
       |  FROM uh, (SELECT unnest(range(32)) AS j) js GROUP BY doc_id, j),
       |us AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN vote > 0 THEN CAST(pow(2, j) AS BIGINT)
       |      ELSE 0 END) AS BIGINT) AS sh
       |  FROM ubits GROUP BY doc_id),
       |bg AS (SELECT DISTINCT doc_id, bitok FROM (
       |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
       |    i -> concat(toks[CAST(i AS INT)], ' ', toks[CAST(i AS INT) + 1])))
       |    AS bitok
       |  FROM w)),
       |bh AS (SELECT doc_id, $hb AS h FROM bg),
       |bbits AS (
       |  SELECT doc_id, j,
       |    sum(CASE WHEN (h >> CAST(j AS INT)) % 2 = 1 THEN 1 ELSE -1 END)
       |      AS vote
       |  FROM bh, (SELECT unnest(range(32)) AS j) js GROUP BY doc_id, j),
       |bs AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN vote > 0 THEN CAST(pow(2, j) AS BIGINT)
       |      ELSE 0 END) AS BIGINT) AS sh
       |  FROM bbits GROUP BY doc_id),
       |fp AS (
       |  -- two's-complement compose (DuckDB << errors on overflow;
       |  -- this equals Spark's wrapping shiftleft | or)
       |  SELECT us.doc_id,
       |    (us.sh - CASE WHEN us.sh >= 2147483648 THEN 4294967296
       |      ELSE 0 END) * 4294967296 + bs.sh AS sh
       |  FROM us JOIN bs USING (doc_id))""".stripMargin
  }

  private val d25Sql =
    s"""WITH $simhash64Ctes
       |SELECT CAST(a.doc_id AS BIGINT) AS a_id,
       |  CAST(b.doc_id AS BIGINT) AS b_id,
       |  CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS dist
       |FROM fp a JOIN fp b
       |  ON a.doc_id < b.doc_id AND bit_count(xor(a.sh, b.sh)) <= 12
       |ORDER BY a_id, b_id""".stripMargin

  /** Verifier-ensemble consensus — the dedup capstone: every d03 LSH
    * candidate pair is judged by all three verify families at once —
    * exact shingle Jaccard (d02's τ = 1/2 rule), banded edit distance
    * (d24's ⌊maxlen/5⌋ budget), and simhash64 Hamming (d25's ≤ 12) — and
    * a pair is a duplicate when AT LEAST TWO families agree. The
    * families fail differently (Jaccard misses in-place edits, edit
    * distance misses reorderings, simhash blurs short docs), so majority
    * vote kills each family's characteristic false positives without the
    * recall loss of requiring unanimity — the adversarial-verification
    * pattern expressed inside the engine. Cost: three candidates-bounded
    * keyed joins over the SAME pair set; nothing pairwise beyond the LSH
    * stage. */
  private def d26(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.hamming64
    val docs = t(s, dir).documentsSpread
    val arr = shingleArrays(docs)
      .select(col("doc_id"), col("sh_arr"), col("n_sh"))
    val txt = docs.select(col("doc_id"), col("text"),
      length(col("text")).as("len"))
    val fp = simhash64(docs)
    minhashLshPairs(docs)
      .join(arr.select(col("doc_id").as("a_id"), col("sh_arr").as("a_arr"),
        col("n_sh").as("na")), "a_id")
      .join(arr.select(col("doc_id").as("b_id"), col("sh_arr").as("b_arr"),
        col("n_sh").as("nb")), "b_id")
      .join(txt.select(col("doc_id").as("a_id"), col("text").as("a_text"),
        col("len").as("a_len")), "a_id")
      .join(txt.select(col("doc_id").as("b_id"), col("text").as("b_text"),
        col("len").as("b_len")), "b_id")
      .join(fp.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(fp.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), "b_id")
      .withColumn("n_inter", pairInter)
      .withColumn("v_jaccard", col("n_inter") * 3 >= col("na") + col("nb"))
      .withColumn("thr", expr("greatest(a_len, b_len) div 5"))
      .withColumn("v_edit",
        expr("levenshtein(a_text, b_text, cast(thr as int))") >= 0)
      .withColumn("v_simhash", hamming64(col("a_sh"), col("b_sh")) <= 12)
      .withColumn("n_votes",
        (when(col("v_jaccard"), 1L).otherwise(0L)
          + when(col("v_edit"), 1L).otherwise(0L)
          + when(col("v_simhash"), 1L).otherwise(0L)))
      .select(col("a_id"), col("b_id"), col("v_jaccard"), col("v_edit"),
        col("v_simhash"), col("n_votes"),
        (col("n_votes") >= 2L).as("consensus_dup"))
      .orderBy(col("a_id"), col("b_id"))
  }

  private val d26Sql =
    s"""WITH $minhashPairsCtes,
       |$simhash64Ctes,
       |$pairInterSql,
       |txt AS (SELECT doc_id, text, length(text) AS len FROM documents),
       |scored AS (
       |  SELECT p.a_id, p.b_id,
       |    CAST(coalesce(i.n_inter, 0) AS BIGINT) AS n_inter,
       |    sa.n_sh AS na, sb.n_sh AS nb,
       |    greatest(ta.len, tb.len) // 5 AS thr,
       |    levenshtein(ta.text, tb.text) AS lev,
       |    bit_count(xor(fa.sh, fb.sh)) AS hdist
       |  FROM pairs p
       |  LEFT JOIN inter i ON i.a_id = p.a_id AND i.b_id = p.b_id
       |  JOIN sizes sa ON sa.doc_id = p.a_id
       |  JOIN sizes sb ON sb.doc_id = p.b_id
       |  JOIN txt ta ON ta.doc_id = p.a_id
       |  JOIN txt tb ON tb.doc_id = p.b_id
       |  JOIN fp fa ON fa.doc_id = p.a_id
       |  JOIN fp fb ON fb.doc_id = p.b_id)
       |SELECT CAST(a_id AS BIGINT) AS a_id, CAST(b_id AS BIGINT) AS b_id,
       |  n_inter * 3 >= na + nb AS v_jaccard,
       |  lev <= thr AS v_edit,
       |  hdist <= 12 AS v_simhash,
       |  CAST((CASE WHEN n_inter * 3 >= na + nb THEN 1 ELSE 0 END)
       |    + (CASE WHEN lev <= thr THEN 1 ELSE 0 END)
       |    + (CASE WHEN hdist <= 12 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_votes,
       |  (CASE WHEN n_inter * 3 >= na + nb THEN 1 ELSE 0 END)
       |    + (CASE WHEN lev <= thr THEN 1 ELSE 0 END)
       |    + (CASE WHEN hdist <= 12 THEN 1 ELSE 0 END) >= 2
       |    AS consensus_dup
       |FROM scored
       |ORDER BY a_id, b_id""".stripMargin

  /** Overlap-rewrite exactness gate — the oracle-level proof of
    * [[graft.plans.SetOverlapJoinRewrite]], d25's certification style
    * transposed to the second rewrite rule: the Spark side is written as
    * the NAIVE theta join (`arrays_overlap` over 4-gram shingle sets +
    * an id ordering), which the session rule rewrites into the exploded
    * element equi-join; DuckDB computes the same relation through an
    * unnest/equi-join (its own scalable form — 1.25M `list_has_any`
    * calls would be needlessly slow and prove nothing extra).
    * Hash-matching rows certify the rewrite is a strict semantic
    * identity on real text. Scale: post-rewrite this is d02's
    * group-and-expand shape — one shuffle on the shingle hash; a
    * production corpus would add d02's hot-shingle cap upstream (the
    * rewrite preserves whatever the input arrays contain). */
  /** Shared 4-gram shingle relation of the overlap-rewrite gate family
    * (d27 / d31 / d32 / d33) — d31's preflight prices EXACTLY d27's
    * shingle relation and d32/d33 vary ONLY the join predicate, so the
    * derivation lives once (the same single-source rule as
    * [[simhashPairs]] / [[triGramBanned]]). */
  private def fourGramShingles(s: SparkSession, dir: String): DataFrame =
    Corpus.tokenized(t(s, dir).documentsSpread, 4)
      .select(col("doc_id"), Corpus.distinctNgrams(4).as("shingles"))

  private def d27(s: SparkSession, dir: String): DataFrame =
    sharedShinglePairs(s, dir)(arrays_overlap(col("a_sh"), col("b_sh")))

  /** d27/d32's naive theta join: every probe doc (doc_id % 20 = 0)
    * paired with each higher-id doc whose 4-gram set satisfies `pred`,
    * with the shared-shingle count. Only `pred` differs between the
    * two gates — that difference is what each certifies. */
  private def sharedShinglePairs(s: SparkSession, dir: String)(
      pred: Column): DataFrame = {
    val sh = fourGramShingles(s, dir)
    val a = sh.filter(col("doc_id") % 20 === 0)
      .select(col("doc_id").as("a_id"), col("shingles").as("a_sh"))
    val b = sh.select(col("doc_id").as("b_id"), col("shingles").as("b_sh"))
    a.join(b, pred && col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("a_sh"), col("b_sh"))).cast("long")
          .as("n_shared"))
      .orderBy(col("a_id"), col("b_id"))
  }

  private val d27Sql = sharedShinglePairsSql(having = "")

  /** The oracle twin of [[sharedShinglePairs]]: probe-doc shingles
    * equi-joined to every higher-id doc's, counted per pair; `having` is
    * an optional HAVING line on those counts. */
  private def sharedShinglePairsSql(having: String): String =
    s"""WITH $fourGramSql,
       |l AS (SELECT doc_id AS a_id, unnest(shingles) AS s FROM shl
       |  WHERE doc_id % 20 = 0),
       |r AS (SELECT doc_id AS b_id, unnest(shingles) AS s FROM shl)
       |SELECT a_id, b_id, CAST(count(*) AS BIGINT) AS n_shared
       |FROM l JOIN r USING (s) WHERE a_id < b_id
       |GROUP BY a_id, b_id$having
       |ORDER BY a_id, b_id""".stripMargin

  /** Membership-rewrite exactness gate — the third certified rewrite
    * ([[graft.plans.SetOverlapJoinRewrite]]'s `array_contains` path):
    * the Spark side is the NAIVE tag-lookup theta join — every document
    * whose bigram set contains each of 500 mid-frequency probe bigrams
    * (the unigram vocab is only 31 here; bigrams give a ~916-term
    * space) — which the rule rewrites to explode-the-array-side +
    * element equi-join. Even when the probe side is broadcastable, the
    * naive plan evaluates |panel| `array_contains` scans per document
    * (O(|panel|·|bigrams|) per doc); the rewrite pays O(|bigrams|) per
    * doc into a hash join — the shape that holds when both sides are
    * large. DuckDB computes the same relation by unnest/equi-join. */
  private def d28(s: SparkSession, dir: String): DataFrame = {
    // global top-520 minus the 20 head bigrams
    val (docs, panel) = bigramPanel(s, dir, offset = 20, limit = 500)
    docs.join(panel, array_contains(col("bgs"), col("bg")))
      .groupBy(col("bg"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("bg"))
  }

  /** d28/d35's shared inputs: every doc's distinct bigram set `bgs`, and
    * the probe panel — the bigrams ranked [offset, offset + limit) by
    * corpus frequency (ties by bigram), as offset/limit over a bounded
    * vocab sort (no global window; PlanSpec's sweep bans those). The
    * panel's bigram transform feeds the generator inline — see
    * [[Corpus.ngrams]]. */
  private def bigramPanel(s: SparkSession, dir: String, offset: Int,
      limit: Int): (DataFrame, DataFrame) = {
    def tokenized = Corpus.tokenized(t(s, dir).documentsSpread, 2)
    val docs = tokenized
      .select(col("doc_id"), Corpus.distinctNgrams(2).as("bgs"))
    val panel = tokenized
      .select(explode(Corpus.ngrams(2)).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("bg"))
      .offset(offset).limit(limit)
      .select(col("bg"))
    (docs, panel)
  }

  /** The oracle twin of [[bigramPanel]]: `bgrams` (every bigram
    * occurrence), the panel of bigrams ranked (lo, hi] by frequency,
    * and `dbg`, each doc's distinct bigrams. */
  private def bigramPanelSql(lo: Int, hi: Int): String =
    s"""w AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |  WHERE len(string_split(text, ' ')) >= 2),
       |bgrams AS (
       |  SELECT doc_id, unnest(list_transform(
       |    generate_series(1, len(toks) - 1),
       |    i -> concat_ws(' ', toks[i], toks[i+1]))) AS bg
       |  FROM w),
       |tf AS (SELECT bg, count(*) AS c FROM bgrams GROUP BY bg),
       |panel AS (
       |  SELECT bg FROM (
       |    SELECT bg, row_number() OVER (ORDER BY c DESC, bg) AS rk
       |    FROM tf) r
       |  WHERE rk > $lo AND rk <= $hi),
       |dbg AS (SELECT DISTINCT doc_id, bg FROM bgrams)""".stripMargin

  private val d28Sql =
    s"""WITH ${bigramPanelSql(20, 520)}
      |SELECT p.bg, CAST(count(*) AS BIGINT) AS n_docs
      |FROM dbg d JOIN panel p ON d.bg = p.bg
      |GROUP BY p.bg
      |ORDER BY p.bg""".stripMargin

  /** Semi-overlap gate — oracle-level proof of
    * [[graft.plans.SetOverlapJoinRewrite]]'s round-8 LeftSemi path, the
    * decontamination report shape: the Spark side is the NAIVE spelling
    * (`corpus ⋉ banned ON arrays_overlap(grams, banned_grams)` over
    * 3-gram shingles, banned = every 50th document's gram set), which
    * the session rule rewrites into the slim rowid pair-probe +
    * back-semi (two-phase fires at sf0.01: the estimated size clears
    * the floor and the repartition admits a pushed-down stable rowid).
    * DuckDB computes the same relation via EXISTS/list_intersect.
    * Scale: the left payload crosses the wire once per row, never per
    * gram — the shape that holds when the corpus is 100 TB and the
    * banned list is millions of documents. */
  /** Shared 3-gram corpus + banned-subset derivation for d29, its
    * pure-SQL spelling twin d38 and the anti-threshold gate d34 — ONLY
    * the join predicate may differ between the gates (that difference
    * IS what d38 certifies, and d29/d38 hash-match d29Sql verbatim), so
    * the input derivation lives once here. */
  private def triGramBanned(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val grams = Corpus.tokenized(t(s, dir).documentsSpread, 3)
      .select(col("doc_id"), Corpus.distinctNgrams(3).as("grams"))
    val banned = grams.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("b_id"), col("grams").as("banned_grams"))
    (grams, banned)
  }

  private def d29(s: SparkSession, dir: String): DataFrame = {
    val (grams, banned) = triGramBanned(s, dir)
    grams.join(banned,
        arrays_overlap(col("grams"), col("banned_grams")), "left_semi")
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  private val d29Sql =
    s"""WITH $triGramBannedSql
      |SELECT CAST(g.doc_id AS BIGINT) AS doc_id FROM g
      |WHERE EXISTS (
      |  SELECT 1 FROM b WHERE len(list_intersect(g.grams, b.bg)) > 0)
      |ORDER BY doc_id""".stripMargin

  /** Anti-hamming gate — oracle-level proof of
    * [[graft.plans.HammingBlockJoinRewrite]]'s round-8 LeftAnti path,
    * the fingerprint-decontamination KEEP shape: the Spark side is the
    * NAIVE spelling (`corpus anti-join banned ON hamming64(sh, bsh) ≤ 6`
    * over the d25 two-channel fingerprints, banned = every 40th
    * document's fingerprint), which the rule rewrites into the slim
    * posexplode block probe + back-anti on the stable rowid (anti has
    * no in-place fallback — without the rowid the naive plan stays).
    * DuckDB computes the same relation via NOT EXISTS/bit_count. */
  private def d30(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.hamming64
    val fp = simhash64(t(s, dir).documentsSpread)
    // derived FROM fp, not a second simhash64 call — one spelling to
    // maintain (the plans are identical either way)
    val banned = fp.filter(col("doc_id") % 40 === 0)
      .select(col("sh").as("bsh"))
    fp.join(banned, hamming64(col("sh"), col("bsh")) <= 6, "left_anti")
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  private val d30Sql =
    s"""WITH $simhash64Ctes,
       |banned AS (SELECT sh AS bsh FROM fp WHERE doc_id % 40 = 0)
       |SELECT CAST(fp.doc_id AS BIGINT) AS doc_id FROM fp
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM banned WHERE bit_count(xor(fp.sh, banned.bsh)) <= 6)
       |ORDER BY doc_id""".stripMargin

  /** Hot-element pre-flight report over d27's own shingle relation —
    * the declared gate for [[SkewTools.overlapJoinPreflight]]: exact
    * Σ fL·fR candidate volume of the overlap rewrite's pair-probe, the
    * worst element named, its share in integer basis points, and the
    * diagnosis string. Runs as two keyed aggregates + a count-table
    * join (rows = distinct shingles, never documents), so a 100 TB
    * deployment prices the rewrite for a fraction of its cost before
    * committing to it (q52's discipline, transposed). PlanProbe's
    * `--overlap-preflight` mode prints this same report with a WARN
    * line when the diagnosis fires. */
  private def d31(s: SparkSession, dir: String): DataFrame = {
    val sh = fourGramShingles(s, dir)
    SkewTools.overlapJoinPreflight(
      sh.filter(col("doc_id") % 20 === 0), col("shingles"),
      sh, col("shingles"))
  }

  private val d31Sql =
    s"""WITH $fourGramSql,
      |fl AS (SELECT s AS e, CAST(count(*) AS BIGINT) AS f
      |  FROM (SELECT unnest(shingles) AS s FROM shl WHERE doc_id % 20 = 0)
      |  GROUP BY 1),
      |fr AS (SELECT s AS e, CAST(count(*) AS BIGINT) AS f
      |  FROM (SELECT unnest(shingles) AS s FROM shl) GROUP BY 1),
      |c AS (SELECT fl.e, CAST(fl.f AS HUGEINT) * fr.f AS contrib
      |  FROM fl JOIN fr ON fl.e = fr.e)
      |SELECT CAST(count(*) AS BIGINT) AS n_common_elements,
      |  COALESCE(CAST(sum(contrib) AS BIGINT), 0) AS est_candidate_rows,
      |  COALESCE(CAST(max(contrib) AS BIGINT), 0) AS max_element_rows,
      |  (SELECT e FROM c ORDER BY contrib DESC, e DESC LIMIT 1)
      |    AS worst_element,
      |  CAST(CAST(max(contrib) AS HUGEINT) * 10000 // sum(contrib)
      |    AS BIGINT) AS max_share_bp,
      |  CASE WHEN CAST(max(contrib) AS HUGEINT) * 10000 // sum(contrib)
      |    >= 1000
      |    THEN 'hot-element: cap its frequency upstream (d02''s """
      .stripMargin +
      """maxShingleFreq) or salt it before the overlap join'
      |    ELSE 'ok' END AS diagnosis
      |FROM c""".stripMargin

  /** Prefix-filter gate — oracle-level proof of the round-8 SSJoin
    * prefix slice inside [[graft.plans.SetOverlapJoinRewrite]]: the
    * Spark side is the NAIVE intersect-threshold theta join
    * (`size(array_intersect) >= 3` over d27's 4-gram shingle sets +
    * an id ordering), which the rule rewrites into the exploded
    * element equi-join over each row's (size − 2)-element sorted
    * prefix ONLY — the c-th-largest-common-element lemma makes the
    * slice exact, and the re-applied raw threshold screens the
    * candidates. DuckDB computes the same relation by unnest/equi-join
    * + HAVING. Scale: at threshold c a row of n distinct elements
    * explodes n − c + 1 keys instead of n, and candidate pairs fall
    * roughly quadratically with c — the shape that matters when the
    * threshold is doing the real selectivity work. */
  private def d32(s: SparkSession, dir: String): DataFrame =
    sharedShinglePairs(s, dir)(
      size(array_intersect(col("a_sh"), col("b_sh"))) >= 3)

  private val d32Sql =
    sharedShinglePairsSql(having = "\nHAVING count(*) >= 3")

  /** Strict-Jaccard spelling gate — d02's NAIVE spelling, rescued: the
    * Spark side is the all-pairs theta self-join a user actually
    * writes (`size(array_intersect) > 0.25 · size(array_union)` +
    * id ordering over 4-gram shingle sets — no candidate topology, no
    * hand-built group-and-expand), which
    * [[graft.plans.SetOverlapJoinRewrite]] recognizes as a
    * strict-Jaccard threshold and rewrites into the hashed-element
    * equi-join over each row's DYNAMIC prefix (size − floor(τ·size)),
    * with the raw predicate re-applied on the back-joined pairs.
    * DuckDB computes the same relation through unnest/equi-join +
    * per-pair size arithmetic. Scale: this is d02's certified
    * single-shuffle topology conferred on the naive query — the
    * headline benchmark tracks the rewrite's cost directly against
    * d02's hand-rolled twin on the same relation. */
  private def d33(s: SparkSession, dir: String): DataFrame =
    jaccardPairs(s, dir)(size(array_intersect(col("a_sh"), col("b_sh")))
      > lit(0.25) * size(array_union(col("a_sh"), col("b_sh"))))

  /** d33/d40's naive all-pairs self-join over 4-gram sets: higher-id
    * pairs satisfying `pred`, with their 4dp Jaccard. Only `pred`'s
    * spelling differs between the two gates, which share d33's oracle. */
  private def jaccardPairs(s: SparkSession, dir: String)(
      pred: Column): DataFrame = {
    val sh = fourGramShingles(s, dir)
    val a = sh.select(col("doc_id").as("a_id"), col("shingles").as("a_sh"))
    val b = sh.select(col("doc_id").as("b_id"), col("shingles").as("b_sh"))
    val inter = size(array_intersect(col("a_sh"), col("b_sh")))
    a.join(b, pred && col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(inter.cast("double")
          / (size(col("a_sh")) + size(col("b_sh")) - inter), 4)
          .as("jaccard"))
      .orderBy(col("a_id"), col("b_id"))
  }

  private val d33Sql =
    s"""WITH $fourGramSql,
      |sizes AS (SELECT doc_id, len(shingles) AS n FROM shl),
      |pairs AS (
      |  SELECT a_id, b_id, CAST(count(*) AS BIGINT) AS i
      |  FROM (SELECT doc_id AS a_id, unnest(shingles) AS s FROM shl) l
      |  JOIN (SELECT doc_id AS b_id, unnest(shingles) AS s FROM shl) r
      |    USING (s)
      |  WHERE a_id < b_id GROUP BY a_id, b_id)
      |SELECT a_id, b_id,
      |  round(i / CAST(sa.n + sb.n - i AS DOUBLE), 4) AS jaccard
      |FROM pairs
      |JOIN sizes sa ON sa.doc_id = a_id
      |JOIN sizes sb ON sb.doc_id = b_id
      |WHERE i > 0.25 * (sa.n + sb.n - i)
      |ORDER BY a_id, b_id""".stripMargin

  /** Anti-threshold scrub gate — oracle-level proof of the round-8
    * pair-verify two-phase semi/anti path
    * ([[graft.plans.SetOverlapJoinRewrite]]): the Spark side is the
    * NAIVE keep-the-clean-corpus spelling (`corpus anti-join banned ON
    * size(array_intersect) >= 3` over 3-gram shingle sets, banned =
    * every 50th document — which scrubs those documents themselves,
    * since each shares all its grams with itself), previously a
    * nested-loop cartesian with no rewrite at all. The rule explodes
    * hashed 2-of-3 prefixes, verifies candidate pairs against the raw
    * threshold on back-joined rows, and anti-joins the matched rowid
    * set. DuckDB computes the same relation via NOT EXISTS. */
  private def d34(s: SparkSession, dir: String): DataFrame = {
    val (grams, banned) = triGramBanned(s, dir)
    grams.join(banned,
        size(array_intersect(col("grams"), col("banned_grams"))) >= 3,
        "left_anti")
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  private val d34Sql =
    s"""WITH $triGramBannedSql
      |SELECT CAST(g.doc_id AS BIGINT) AS doc_id FROM g
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM b WHERE len(list_intersect(g.grams, b.bg)) >= 3)
      |ORDER BY doc_id""".stripMargin

  /** Anti-membership quarantine gate — the round-8 two-phase membership
    * path with the array on the LEFT
    * ([[graft.plans.SetOverlapJoinRewrite]]): the Spark side is the
    * NAIVE "keep documents containing none of the flagged bigrams"
    * spelling (`docs anti-join panel ON array_contains(bgs, bg)`, panel
    * = 200 mid-tail bigrams by global frequency), previously a
    * nested-loop that evaluated |panel| `array_contains` scans per
    * document. The rule explodes each document's distinct bigrams once,
    * semi-probes the panel, and anti-joins the matched rowid set —
    * O(|bigrams|) per document into a hash join. DuckDB computes the
    * same relation via NOT EXISTS over the unnested bigrams. */
  private def d35(s: SparkSession, dir: String): DataFrame = {
    val (docs, panel) = bigramPanel(s, dir, offset = 520, limit = 200)
    docs.join(panel, array_contains(col("bgs"), col("bg")), "left_anti")
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  private val d35Sql =
    s"""WITH ${bigramPanelSql(520, 720)}
      |SELECT CAST(d.doc_id AS BIGINT) AS doc_id
      |FROM (SELECT DISTINCT doc_id FROM bgrams) d
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM dbg JOIN panel p ON dbg.bg = p.bg
      |  WHERE dbg.doc_id = d.doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Wide-payload hamming gate — oracle-level proof of the round-8
    * TWO-PHASE path inside [[graft.plans.HammingBlockJoinRewrite]]: the
    * Spark side is d25's naive spelling with the raw `text` column
    * KEPT on both sides (the variable-width payload that would ride
    * the posexplode exchange (k+1)× in the in-place form), so the rule
    * routes through the slim `(rowid, fingerprint, block)` pair-list —
    * the Hamming bound verified on the carried 8-byte fingerprints,
    * distinct rowid pairs, payloads back-joined once per matching
    * pair. The output consumes the wide columns (summed text lengths),
    * so a back-join bug that paired the wrong payload rows breaks the
    * hash match. DuckDB computes the same relation naively. */
  private def d36(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.hamming64
    // the ONE fingerprint derivation (simhash64), with the wide text
    // payload kept via `extras` — an inline re-spelling here could
    // silently certify a different fingerprint than the rewrite family
    val fp = simhash64(t(s, dir).documentsSpread, extras = Seq(col("text")))
    val a = fp.select(col("doc_id").as("a_id"), col("sh").as("a_sh"),
      col("text").as("a_text"))
    val b = fp.select(col("doc_id").as("b_id"), col("sh").as("b_sh"),
      col("text").as("b_text"))
    a.join(b, hamming64(col("a_sh"), col("b_sh")) <= 12
        && col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        hamming64(col("a_sh"), col("b_sh")).cast("long").as("dist"),
        (length(col("a_text")) + length(col("b_text"))).cast("long")
          .as("tlen"))
      .orderBy(col("a_id"), col("b_id"))
  }

  private val d36Sql =
    s"""WITH $simhash64Ctes,
       |wide AS (
       |  SELECT fp.doc_id, fp.sh, d.text FROM fp
       |  JOIN documents d ON d.doc_id = fp.doc_id)
       |SELECT CAST(a.doc_id AS BIGINT) AS a_id,
       |  CAST(b.doc_id AS BIGINT) AS b_id,
       |  CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS dist,
       |  CAST(length(a.text) + length(b.text) AS BIGINT) AS tlen
       |FROM wide a JOIN wide b
       |  ON a.doc_id < b.doc_id AND bit_count(xor(a.sh, b.sh)) <= 12
       |ORDER BY a_id, b_id""".stripMargin

  /** Pure-SQL-spelling gates (round 9): the two recognizer paths added
    * late in round 8 — builtin `bit_count(a ^ b) <= k` (Hamming) and the
    * HOF `exists(a, e -> array_contains(b, e))` (overlap) — were
    * certified only by unit specs; these twins put them under the DuckDB
    * oracle. Each is its sibling's exact query with ONLY the predicate
    * spelling changed (no graft import at all — the spelling any plain
    * SQL user would write), sharing the sibling's oracle SQL verbatim:
    * a hash match certifies recognizer + rewrite end-to-end. */
  private def d37(s: SparkSession, dir: String): DataFrame =
    simhashPairs(s, dir)(
      expr("bit_count(a_sh ^ b_sh) <= 12"),
      expr("cast(bit_count(a_sh ^ b_sh) as bigint)"))

  private def d38(s: SparkSession, dir: String): DataFrame = {
    val (grams, banned) = triGramBanned(s, dir)
    grams.join(banned,
        expr("exists(grams, e -> array_contains(banned_grams, e))"),
        "left_semi")
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** `>=`-Jaccard gate (round 9): the LAST Jaccard spelling that stood
    * down — `size(∩) >= τ·size(∪)` admits witness-less EMPTY-EMPTY
    * pairs (0 >= τ·0 for every τ), so the rewrite is (witnessed
    * two-phase) UNION (broadcast cross of the two empty-array
    * subsets). The relation: each doc's distinct rare tokens (length
    * ≥ 8 — ~20% of docs have NONE, so both branches are populated),
    * sliced to doc_id < 200 to bound the required empty×empty output.
    * DuckDB evaluates the naive quadratic join literally; the hash
    * match certifies witnessed completeness, the per-row ceil prefix
    * bound, AND the empty-branch union in one gate. */
  private def d39(s: SparkSession, dir: String): DataFrame = {
    val g = longTokenSets(s, dir)
    val a = g.select(col("doc_id").as("a_id"), col("grams").as("a_g"))
    val b = g.select(col("doc_id").as("b_id"), col("grams").as("b_g"))
    val inter = size(array_intersect(col("a_g"), col("b_g")))
    a.join(b, col("a_id") < col("b_id")
        && inter >= lit(0.5) * size(array_union(col("a_g"), col("b_g"))))
      .select(col("a_id"), col("b_id"), inter.cast("long").as("n_inter"),
        size(array_union(col("a_g"), col("b_g"))).cast("long").as("n_union"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** d39/d42's relation: the distinct ≥ 8-char tokens of every doc with
    * doc_id < 200 — an EMPTY set for the ~20% of docs that have none. */
  private def longTokenSets(s: SparkSession, dir: String): DataFrame =
    t(s, dir).documentsSpread
      .filter(col("doc_id") < 200)
      .select(col("doc_id"), expr(
        "array_distinct(filter(split(text, ' '), t -> length(t) >= 8))")
        .as("grams"))

  /** The oracle twin of [[longTokenSets]]: `g(doc_id, grams)`. */
  private val longTokenSetsSql =
    """g AS (
      |  SELECT doc_id, list_distinct(list_filter(string_split(text, ' '),
      |    t -> len(t) >= 8)) AS grams
      |  FROM documents WHERE doc_id < 200)""".stripMargin

  private val d39Sql =
    s"""WITH $longTokenSetsSql
      |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |  CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT) AS n_inter,
      |  CAST(len(list_distinct(a.grams || b.grams)) AS BIGINT) AS n_union
      |FROM g a JOIN g b ON a.doc_id < b.doc_id
      |  AND len(list_intersect(a.grams, b.grams))
      |      >= 0.5 * len(list_distinct(a.grams || b.grams))
      |ORDER BY a_id, b_id""".stripMargin

  /** DECIMAL-τ spelling gate (round 9): `0.25` through the SQL PARSER is
    * a DECIMAL(2,2) literal, not the DOUBLE the DataFrame `lit(0.25)`
    * produces — the spelling every plain-SQL user actually writes, and a
    * recognizer path (decimal-promotion uncast + jaccardSlop bound)
    * added by the round-9 hardening sweep after review found those
    * queries silently staying nested-loop cartesians. d33's EXACT query
    * with only the predicate spelled via expr() (the SQL parser), so it
    * hash-matches d33Sql verbatim: the gate certifies recognizer +
    * slopped prefix bound + rewrite end-to-end under the driver. */
  private def d40(s: SparkSession, dir: String): DataFrame =
    jaccardPairs(s, dir)(expr("size(array_intersect(a_sh, b_sh)) " +
      "> 0.25 * size(array_union(a_sh, b_sh))"))

  /** Hot-BLOCK pre-flight report over d25's own fingerprint relation —
    * the declared gate for [[SkewTools.hammingJoinPreflight]], d31's
    * pattern transposed to the Hamming rewrite family: the block
    * equi-join of [[graft.plans.HammingBlockJoinRewrite]] keys on
    * (block-index, block-value) over the k+1-way pigeonhole split, so
    * its candidate volume is exactly Σ fL·fR over per-side (index,
    * value) frequencies — two keyed counts + a count-table join price
    * the d25/d30-style join before it runs, the worst block named (a
    * zero-heavy simhash block from degenerate docs is the canonical
    * skew). Left side mirrors d31's probe slice (doc_id % 20) so the
    * fL ≠ fR asymmetry is exercised; k = 12 = d25's own bound. The
    * oracle recomputes the 13-block layout (12×5-bit + 1×4-bit)
    * literally — hash-matching rows certify layout, frequency join, and
    * share arithmetic. */
  private def d41(s: SparkSession, dir: String): DataFrame = {
    val fp = simhash64(t(s, dir).documentsSpread)
    SkewTools.hammingJoinPreflight(
      fp.filter(col("doc_id") % 20 === 0), col("sh"),
      fp, col("sh"), k = 12)
  }

  private val d41Sql =
    s"""WITH $simhash64Ctes,
       |lay(bi, shf, msk) AS (VALUES
       |  (0, 0, 31), (1, 5, 31), (2, 10, 31), (3, 15, 31), (4, 20, 31),
       |  (5, 25, 31), (6, 30, 31), (7, 35, 31), (8, 40, 31), (9, 45, 31),
       |  (10, 50, 31), (11, 55, 31), (12, 60, 15)),
       |lb AS (SELECT l.bi, (f.sh >> l.shf) & l.msk AS bv,
       |    CAST(count(*) AS BIGINT) AS f
       |  FROM fp f, lay l WHERE f.doc_id % 20 = 0 GROUP BY 1, 2),
       |rb AS (SELECT l.bi, (f.sh >> l.shf) & l.msk AS bv,
       |    CAST(count(*) AS BIGINT) AS f
       |  FROM fp f, lay l GROUP BY 1, 2),
       |c AS (SELECT lb.bi, lb.bv, CAST(lb.f AS HUGEINT) * rb.f AS contrib
       |  FROM lb JOIN rb ON lb.bi = rb.bi AND lb.bv = rb.bv)
       |SELECT CAST(count(*) AS BIGINT) AS n_common_blocks,
       |  COALESCE(CAST(sum(contrib) AS BIGINT), 0) AS est_candidate_rows,
       |  COALESCE(CAST(max(contrib) AS BIGINT), 0) AS max_block_rows,
       |  (SELECT CAST(bi AS BIGINT) FROM c
       |    ORDER BY contrib DESC, bi DESC, bv DESC LIMIT 1)
       |    AS worst_block_index,
       |  (SELECT bv FROM c ORDER BY contrib DESC, bi DESC, bv DESC LIMIT 1)
       |    AS worst_block_value,
       |  CAST(CAST(max(contrib) AS HUGEINT) * 10000 // sum(contrib)
       |    AS BIGINT) AS max_share_bp,
       |  CASE WHEN CAST(max(contrib) AS HUGEINT) * 10000 // sum(contrib)
       |    >= 1000
       |    THEN 'hot-block: a skewed block value dominates the equi-join """
      .stripMargin +
      """— drop degenerate fingerprints upstream or salt the hot (index, value) key'
      |    ELSE 'ok' END AS diagnosis
      |FROM c""".stripMargin

  /** Empty-empty pricing gate — the oracle-level proof of
    * [[SkewTools.overlapJoinPreflight]]'s `includeEmptyEmpty` report
    * (round 10): prices EXACTLY d39's own relation (long-token gram
    * sets over doc_id < 200, where short-token documents yield EMPTY
    * arrays), with the `>=`-Jaccard union branch's |E_l|·|E_r| required
    * output priced beside the witnessed Σ fL·fR — the quadratic volume
    * the round-9 verdict flagged as undiagnosable. DuckDB recomputes
    * witnessed frequencies, the two empty counts, and both basis-point
    * shares literally; hash-matching rows certify the arithmetic and
    * the diagnosis precedence (empty-empty outranks hot-element). */
  private def d42(s: SparkSession, dir: String): DataFrame = {
    val g = longTokenSets(s, dir)
    SkewTools.overlapJoinPreflight(g, col("grams"), g, col("grams"),
      includeEmptyEmpty = true)
  }

  private val d42Sql =
    s"""WITH $longTokenSetsSql,
      |fq AS (SELECT s AS e, CAST(count(*) AS BIGINT) AS f
      |  FROM (SELECT unnest(grams) AS s FROM g) GROUP BY 1),
      |c AS (SELECT fl.e, CAST(fl.f AS HUGEINT) * fr.f AS contrib
      |  FROM fq fl JOIN fq fr ON fl.e = fr.e),
      |ee AS (SELECT CAST(count(*) AS HUGEINT) AS n
      |  FROM g WHERE len(grams) = 0),
      |tot AS (
      |  SELECT count(*) AS n_common, sum(contrib) AS wit,
      |    max(contrib) AS mx,
      |    (SELECT e FROM c ORDER BY contrib DESC, e DESC LIMIT 1) AS we,
      |    (SELECT n * n FROM ee) AS eesq
      |  FROM c)
      |SELECT CAST(n_common AS BIGINT) AS n_common_elements,
      |  CAST(coalesce(wit, 0) + eesq AS BIGINT) AS est_candidate_rows,
      |  CAST(eesq AS BIGINT) AS empty_empty_rows,
      |  CAST(mx AS BIGINT) AS max_element_rows,
      |  we AS worst_element,
      |  CAST(mx * 10000 // (coalesce(wit, 0) + eesq) AS BIGINT)
      |    AS max_share_bp,
      |  CAST(eesq * 10000 // (coalesce(wit, 0) + eesq) AS BIGINT)
      |    AS empty_share_bp,
      |  CASE
      |    WHEN eesq * 10000 // (coalesce(wit, 0) + eesq) >= 1000
      |    THEN 'empty-empty: the >= spelling emits every empty x empty """
      .stripMargin +
      """array pair — filter empty arrays upstream or use the strict > spelling'
      |    WHEN mx * 10000 // (coalesce(wit, 0) + eesq) >= 1000
      |    THEN 'hot-element: cap its frequency upstream (d02''s """
        .stripMargin +
      """maxShingleFreq) or salt it before the overlap join'
      |    ELSE 'ok' END AS diagnosis
      |FROM tot""".stripMargin

  /** `>=`-Jaccard SEMI decontamination gate (round 10, re-fixtured
    * round 11): the rowid-union topology that ended this spelling's
    * semi/anti stand-down — the witnessed matched-rowid set unions the
    * rowids of empty corpus rows that semi-match an empty banned row
    * (0 ≥ τ·0 qualifies them), and the back join keeps the matched
    * side. Gram basis: distinct word 3-grams whose three tokens are ALL
    * ≥5 chars — documents with no such trigram yield EMPTY arrays on
    * BOTH the corpus (doc_id < 400) and banned (doc_id % 9 = 0) slices,
    * and the basis discriminates (the round-10 ≥8-char-token basis
    * collapsed to {} / {"customer"}, making d43 keep all 400 rows and
    * d44 none — two vacuous gates). At τ=0.5 this keeps 56-87 of 400
    * across sf0.001/0.01/0.1, so BOTH gates have non-trivial
    * complements. DuckDB evaluates the same EXISTS literally. */
  private def d43(s: SparkSession, dir: String): DataFrame =
    orEqualDecontam(s, dir, "left_semi")

  /** d43/d44: the corpus slice (doc_id < 400) semi- or anti-joined
    * (`joinType`) to the banned slice (doc_id % 9 = 0) on the `>=`
    * 0.5-Jaccard of their long-trigram sets. */
  private def orEqualDecontam(s: SparkSession, dir: String,
      joinType: String): DataFrame = {
    val g = longTrigrams(s, dir)
    val corpus = g.filter(col("doc_id") < 400)
    val banned = g.filter(col("doc_id") % 9 === 0)
      .select(col("doc_id").as("b_id"), col("grams").as("b_g"))
    corpus.join(banned,
        size(array_intersect(col("grams"), col("b_g")))
          >= lit(0.5) * size(array_union(col("grams"), col("b_g"))),
        joinType)
      .select(col("doc_id"), size(col("grams")).cast("long").as("n_grams"))
      .orderBy(col("doc_id"))
  }

  /** Shared d43/d44 gram derivation: distinct "all-tokens-long"
    * trigrams, empty array (never null) when none qualify. The ≥3-token
    * guard keeps Spark's sequence() ascending; shorter docs fall into
    * the empty-array branch, mirroring DuckDB's greatest(). Spelling
    * matters: filter the POSITIONS first, then transform with concat_ws
    * (non-nullable), so the array type stays containsNull=false — a
    * transform-then-drop-nulls spelling types containsNull=true and
    * [[graft.plans.SetOverlapJoinRewrite]] stands down (line 146),
    * leaving the naive nested-loop plan. */
  private def longTrigrams(s: SparkSession, dir: String): DataFrame =
    Corpus.tokenized(t(s, dir).documentsSpread)
      .select(col("doc_id"), graft.functions.PlanFence.fence(expr(
        """array_distinct(
          |  CASE WHEN size(toks) >= 3 THEN
          |    transform(
          |      filter(sequence(0, size(toks) - 3), i ->
          |        length(toks[i]) >= 5 AND length(toks[i+1]) >= 5
          |          AND length(toks[i+2]) >= 5),
          |      i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
          |  ELSE array() END)""".stripMargin)).as("grams"))

  private def d43Ctes =
    """WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |g AS (
      |  SELECT doc_id, list_distinct(list_filter(
      |    list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
      |      i -> CASE WHEN len(toks[i]) >= 5 AND len(toks[i+1]) >= 5
      |                     AND len(toks[i+2]) >= 5
      |           THEN concat_ws(' ', toks[i], toks[i+1], toks[i+2]) END),
      |    x -> x IS NOT NULL)) AS grams
      |  FROM w),
      |c AS (SELECT * FROM g WHERE doc_id < 400),
      |b AS (SELECT * FROM g WHERE doc_id % 9 = 0)""".stripMargin

  private val d43Sql =
    s"""$d43Ctes
       |SELECT c.doc_id, CAST(len(c.grams) AS BIGINT) AS n_grams
       |FROM c WHERE EXISTS (SELECT 1 FROM b
       |  WHERE len(list_intersect(c.grams, b.grams))
       |    >= 0.5 * len(list_distinct(c.grams || b.grams)))
       |ORDER BY doc_id""".stripMargin

  /** `>=`-Jaccard ANTI twin of [[d43]] — keep-the-clean-corpus: the
    * SAME matched-rowid set (witnessed ∪ empty-matched) with the back
    * join flipped to anti, so empty corpus rows fall OUT when any empty
    * banned row exists. d43 ∪ d44 partitions the corpus exactly. */
  private def d44(s: SparkSession, dir: String): DataFrame =
    orEqualDecontam(s, dir, "left_anti")

  private val d44Sql =
    s"""$d43Ctes
       |SELECT c.doc_id, CAST(len(c.grams) AS BIGINT) AS n_grams
       |FROM c WHERE NOT EXISTS (SELECT 1 FROM b
       |  WHERE len(list_intersect(c.grams, b.grams))
       |    >= 0.5 * len(list_distinct(c.grams || b.grams)))
       |ORDER BY doc_id""".stripMargin

  /** EXISTS-subquery spelling twin of [[d43]] (round 11) — certifies
    * the POST-SUBQUERY rewrite registration end to end over parquet:
    * `WHERE EXISTS (...)` only becomes a semi join in Spark's late
    * RewriteSubquery batch, after the extension-injected rule instances
    * have run, so this spelling exercises the second registration in
    * spark.experimental.extraOptimizations that round 11 added (without
    * it, this plan is a silent |corpus|x|banned| nested loop). The SQL
    * `0.5` literal parses as DECIMAL, so the gate also covers the
    * decimal-τ slop on the `>=` semi path. Shares d43's oracle
    * VERBATIM — only the spelling differs, which is what this gate
    * certifies (the d37/d38 pattern). */
  private def d45(s: SparkSession, dir: String): DataFrame =
    orEqualSubquery(s, dir, "graft_d45", "EXISTS")

  /** d45/d46: d43/d44's relation spelled as a SQL `[NOT] EXISTS`
    * subquery (`exists`) over temp views `<view>_corpus` and
    * `<view>_banned`. */
  private def orEqualSubquery(s: SparkSession, dir: String, view: String,
      exists: String): DataFrame = {
    val g = longTrigrams(s, dir)
    g.filter(col("doc_id") < 400)
      .createOrReplaceTempView(s"${view}_corpus")
    g.filter(col("doc_id") % 9 === 0)
      .select(col("doc_id").as("b_id"), col("grams").as("b_g"))
      .createOrReplaceTempView(s"${view}_banned")
    s.sql(
      s"""SELECT doc_id, CAST(size(grams) AS BIGINT) AS n_grams
        |FROM ${view}_corpus c WHERE $exists (
        |  SELECT 1 FROM ${view}_banned b
        |  WHERE size(array_intersect(c.grams, b.b_g))
        |        >= 0.5 * size(array_union(c.grams, b.b_g)))
        |ORDER BY doc_id""".stripMargin)
  }

  /** NOT-EXISTS twin of [[d45]] — the keep-the-clean-corpus spelling
    * (`WHERE NOT EXISTS`), which the late batch plans as the LeftAnti
    * rowid-union topology. Shares d44's oracle verbatim; d45 ∪ d46
    * partitions the corpus exactly, same as d43 ∪ d44. */
  private def d46(s: SparkSession, dir: String): DataFrame =
    orEqualSubquery(s, dir, "graft_d46", "NOT EXISTS")

  val defs: Seq[(String, QueryDef)] = Seq(
    "d01_dedup_exact" -> QueryDef(d01, Some(d01Sql)),
    "d02_dedup_ngram_jaccard" -> QueryDef(d02, Some(d02Sql), headline = true),
    "d03_dedup_minhash_lsh" -> QueryDef(d03, Some(d03Sql), headline = true),
    "d04_dedup_simhash" -> QueryDef(d04, Some(d04Sql), headline = true),
    "d05_dedup_embedding_cosine" -> QueryDef(d05, Some(d05Sql)),
    "d06_dedup_components" -> QueryDef(d06, Some(d06Sql)),
    "d07_canonical_selection" -> QueryDef(d07, Some(d07Sql)),
    "d08_incremental_dedup" -> QueryDef(d08, Some(d08Sql)),
    "d09_dedup_embedding_lsh" -> QueryDef(d09, Some(d09Sql)),
    "d10_semantic_dedup" -> QueryDef(d10, Some(d10Sql)),
    "d11_jaccard_estimate" -> QueryDef(d11, Some(d11Sql)),
    "d12_incremental_fuzzy_dedup" -> QueryDef(d12, Some(d12Sql)),
    "d13_repeated_spans" -> QueryDef(d13, Some(d13Sql)),
    "d14_cdc_chunks" -> QueryDef(d14, Some(d14Sql)),
    "d15_lsh_recall" -> QueryDef(d15, Some(d15Sql)),
    "d16_containment_neardup" -> QueryDef(d16, Some(d16Sql)),
    "d17_crossdoc_spans" -> QueryDef(d17, Some(d17Sql)),
    "d18_span_scrub" -> QueryDef(d18, Some(d18Sql)),
    "d19_incremental_span_scrub" -> QueryDef(d19, Some(d19Sql)),
    "d20_simhash_recall" -> QueryDef(d20, Some(d20Sql)),
    "d21_bbit_minhash" -> QueryDef(d21, Some(d21Sql)),
    "d22_jaccard_threshold_sweep" -> QueryDef(d22, Some(d22Sql)),
    "d23_cluster_size_report" -> QueryDef(d23, Some(d23Sql)),
    "d24_edit_distance_verify" -> QueryDef(d24, Some(d24Sql)),
    // d25/d27 are headlines since round 7: each gates a default-on
    // Catalyst rewrite rule, so their per-round bench rows track the
    // rules' performance directly (d25 also lost its caller-side cache
    // this round — the single-scan rewrite carries it alone now)
    "d25_hamming_block_join" -> QueryDef(d25, Some(d25Sql), headline = true),
    "d26_verifier_consensus" -> QueryDef(d26, Some(d26Sql)),
    "d27_overlap_join_rewrite" -> QueryDef(d27, Some(d27Sql), headline = true),
    "d28_membership_join" -> QueryDef(d28, Some(d28Sql)),
    // round-8 gates: the LeftSemi/LeftAnti decontamination paths of the
    // two rewrite rules (d29 is a headline so the bench tracks the semi
    // pair-probe's cost round over round)
    "d29_semi_overlap_decontam" -> QueryDef(d29, Some(d29Sql), headline = true),
    "d30_anti_hamming_decontam" -> QueryDef(d30, Some(d30Sql)),
    "d31_overlap_preflight" -> QueryDef(d31, Some(d31Sql)),
    // round-8 prefix-filter gates: d32 pins the constant-threshold
    // SSJoin slice, d33 (headline — benched against d02's hand-rolled
    // twin on the same relation) pins the strict-Jaccard spelling with
    // the dynamic per-row prefix
    "d32_overlap_threshold_prefix" -> QueryDef(d32, Some(d32Sql)),
    "d33_jaccard_theta_rewrite" -> QueryDef(d33, Some(d33Sql),
      headline = true),
    // round-8 anti gates: d34 pins the pair-verify two-phase (threshold
    // anti previously stood down to a nested loop), d35 the left-array
    // membership anti
    "d34_anti_threshold_scrub" -> QueryDef(d34, Some(d34Sql)),
    "d35_anti_membership_quarantine" -> QueryDef(d35, Some(d35Sql)),
    // round-8: wide-payload hamming two-phase gate (text carried on
    // both sides; back-joined payloads consumed in the output)
    "d36_hamming_wide_payload" -> QueryDef(d36, Some(d36Sql)),
    // round-9 pure-SQL-spelling gates: same queries as d25/d29 with only
    // the predicate spelling changed — they reuse the twins' oracles
    "d37_bitcount_spelling_rewrite" -> QueryDef(d37, Some(d25Sql)),
    "d38_exists_hof_decontam" -> QueryDef(d38, Some(d29Sql)),
    // round-9: the >=-Jaccard spelling (witnessed ∪ empty-empty union)
    "d39_jaccard_orequal_rewrite" -> QueryDef(d39, Some(d39Sql)),
    "d40_decimal_tau_rewrite" -> QueryDef(d40, Some(d33Sql)),
    "d41_hamming_preflight" -> QueryDef(d41, Some(d41Sql)),
    "d42_orequal_preflight" -> QueryDef(d42, Some(d42Sql)),
    // round-10: >=-Jaccard semi/anti via the rowid union (stand-down ended)
    "d43_orequal_semi_decontam" -> QueryDef(d43, Some(d43Sql)),
    "d44_orequal_anti_scrub" -> QueryDef(d44, Some(d44Sql)),
    "d45_exists_subquery_decontam" -> QueryDef(d45, Some(d43Sql)),
    "d46_notexists_subquery_scrub" -> QueryDef(d46, Some(d44Sql)),
  )


}
