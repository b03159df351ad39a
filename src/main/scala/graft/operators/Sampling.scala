package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.StableHash
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Sampling + corpus statistics — training-pipeline staples. Sampling is
  * content-hash based, never `rand()`: reproducible across runs, engines,
  * and cluster sizes (the property a 100 TB curation run needs for
  * resumability and audits).
  */
object Sampling {

  /** Deterministic ~20% sample: keep docs whose stable content hash lands
    * in the first 20 of 100 buckets. Pure map-side filter at the scan. */
  private def x01(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents
      .filter(StableHash.h60(col("text")) % 100 < 20)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  private val x01Sql =
    s"""SELECT doc_id, lang FROM documents
       |WHERE (${StableHash.duckH60("text")}) % 100 < 20
       |ORDER BY doc_id""".stripMargin

  /** Stratified sample: 10 docs per language, ranked by content hash with a
    * doc_id tiebreak — equal-size strata regardless of class skew. One
    * shuffle on the stratum key. */
  private def x02(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(StableHash.h60(col("text")), col("doc_id"))
    Tables(s, dir).documents
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .select(col("lang"), col("doc_id"), col("rn").cast("long").as("rn"))
      .orderBy(col("lang"), col("rn"))
  }

  private val x02Sql =
    s"""SELECT lang, doc_id, rn FROM (
       |  SELECT lang, doc_id,
       |    row_number() OVER (PARTITION BY lang
       |      ORDER BY ${StableHash.duckH60("text")}, doc_id) AS rn
       |  FROM documents) t
       |WHERE rn <= 10
       |ORDER BY lang, rn""".stripMargin

  /** Corpus-level statistics: doc/token totals, vocabulary size, languages,
    * mean doc length. The vocabulary count is the one shuffle (distinct over
    * exploded tokens, partially aggregated map-side). */
  private def x03(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val docs = Corpus.tokenized(t.documentsSpread)
    val base = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(size(col("toks"))).cast("long").as("n_tokens"),
      countDistinct(col("lang")).as("n_langs"),
      round(avg(size(col("toks"))), 4).as("avg_doc_tokens"))
    val vocab = docs.select(explode(col("toks")).as("tok"))
      .agg(countDistinct(col("tok")).as("vocab_size"))
    base.crossJoin(vocab)
  }

  private val x03Sql =
    """SELECT
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
      |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |  round(avg(len(string_split(text, ' '))), 4) AS avg_doc_tokens,
      |  (SELECT CAST(count(DISTINCT tok) AS BIGINT) FROM
      |    (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) u)
      |    AS vocab_size
      |FROM documents""".stripMargin

  /** Deterministic train/validation/test split (90/5/5 by content hash) +
    * per-split stats — the reproducible-split primitive every training run
    * needs (resumable, engine-portable, no rand()). Pure map-side split
    * expression; one tiny aggregate. */
  private def x04(s: SparkSession, dir: String): DataFrame = {
    val bucket = StableHash.h60(col("text")) % 100
    Tables(s, dir).documentsSpread
      .withColumn("split",
        when(bucket < 90, "train").when(bucket < 95, "validation")
          .otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(Corpus.tokens())).cast("long").as("n_tokens"))
      .orderBy(col("split"))
  }

  private val x04Sql = {
    val b = s"(${StableHash.duckH60("text")}) % 100"
    s"""SELECT CASE WHEN $b < 90 THEN 'train'
       |  WHEN $b < 95 THEN 'validation' ELSE 'test' END AS split,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |FROM documents
       |GROUP BY 1
       |ORDER BY split""".stripMargin
  }

  /** Skew-safe salted aggregation, oracle-gated for semantic transparency:
    * the Spark side runs [[SkewTools.saltedSumCount]] (two-phase partial →
    * recombine over 16 salts) and must produce EXACTLY the plain GROUP BY
    * the oracle runs — the proof that salting changes the shuffle layout,
    * never the result. Quantities are integral doubles, so the re-
    * association of the sum across salts is bit-exact. */
  private def x05(s: SparkSession, dir: String): DataFrame =
    SkewTools.saltedSumCount(
      Tables(s, dir).lineitem.select(col("l_returnflag"), col("l_quantity")),
      key = "l_returnflag", valueCol = "l_quantity", saltFactor = 16)
      .select(col("l_returnflag"),
        round(col("sum_l_quantity"), 2).as("sum_qty"), col("n"))
      .orderBy(col("l_returnflag"))

  private val x05Sql =
    """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Language-mix resampling: per-language keep-rates (‰) applied via the
    * content hash — the domain up/down-sampling stage of a data-mixing
    * pipeline (e.g. down-weight the dominant language, keep the rest).
    * Deterministic (same doc kept at any SF/cluster size), map-side only;
    * the tiny rate table broadcasts. Output = per-language kept counts so
    * the oracle checks the realized mix. */
  private def x06(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val rates = Seq(("en", 400), ("de", 1000), ("es", 1000), ("fr", 1000),
      ("zh", 700)).toDF("lang", "keep_permille")
    Tables(s, dir).documents
      .join(broadcast(rates), Seq("lang"))
      .filter(StableHash.h60(col("text")) % 1000 < col("keep_permille"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"))
      .orderBy(col("lang"))
  }

  private val x06Sql =
    s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_kept
       |FROM documents
       |JOIN (VALUES ('en', 400), ('de', 1000), ('es', 1000), ('fr', 1000),
       |  ('zh', 700)) rates(lang, keep_permille) USING (lang)
       |WHERE (${StableHash.duckH60("text")}) % 1000 < keep_permille
       |GROUP BY lang
       |ORDER BY lang""".stripMargin

  /** Cluster-balanced sample: cap every k-means cluster at [[clusterCap]]
    * vectors, chosen in stable-hash order — the embedding-space analogue of
    * x02's per-language strata and the standard counter to cluster skew in
    * semantic data mixing (over-represented modes contribute at most `cap`
    * examples; rare modes survive whole). One window partitioned by the
    * cluster id: each cluster ranks independently, no global order, and the
    * hash ranking keeps the selection reproducible across runs and engines
    * (never `rand()`). Clustering comes from [[SimilarityOps
    * .kmeansAssignments]] — broadcast Lloyd passes, see s05. */
  private val clusterCap = 40

  private def x07(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("cid"))
      .orderBy(StableHash.h60(col("vec_id")), col("vec_id"))
    SimilarityOps.kmeansAssignments(s, dir)
      .select(col("vec_id"), col("cid"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= clusterCap)
      .select(col("vec_id"), col("cid").as("cluster"))
      .orderBy(col("vec_id"))
  }

  private val x07Sql =
    s"""WITH ${SimilarityOps.kmeansCtes}
       |SELECT vec_id, cid AS cluster FROM (
       |  SELECT vec_id, cid, row_number() OVER (PARTITION BY cid
       |    ORDER BY ${StableHash.duckH60("vec_id")}, vec_id) AS rk
       |  FROM a2) t
       |WHERE rk <= $clusterCap
       |ORDER BY vec_id""".stripMargin

  /** Quality-temperature resampling: keep-probability ∝ quality², applied
    * via the content hash — the soft alternative to a hard quality cutoff
    * (FineWeb/CCNet-style mixing keeps SOME low-quality text for
    * robustness, just less of it; squaring sharpens toward high quality
    * while never zeroing a stratum). Deterministic: the 4dp-rounded
    * quality score is engine-identical, so round(q²·10⁴) is an exact
    * integer threshold both engines compare the same hash against — the
    * same doc survives at any SF or cluster size. Map-side only; one tiny
    * per-decile aggregate reports the realized acceptance curve. */
  private def x08(s: SparkSession, dir: String): DataFrame = {
    val q = QualityScore.scored(Tables(s, dir).documentsSpread, scoreCol = "q")
    q.withColumn("kept",
        (StableHash.h60(col("text")) % 10000
          < round(col("q") * col("q") * 10000).cast("long")).cast("long"))
      .withColumn("decile",
        least(floor(col("q") * 10).cast("long"), lit(9L)))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("kept")).as("n_kept"),
        round(sum(col("kept")) / count(lit(1)).cast("double"), 4)
          .as("realized_rate"))
      .orderBy(col("decile"))
  }

  private val x08Sql = {
    // the ONE quality formula (QualityScore) — an inline copy here is
    // the forked-score drift that object exists to prevent
    val qExpr = QualityScore.duckScore()
    s"""WITH scored AS (
       |  SELECT text,
       |    ${QualityScore.duckNTokens} AS n_tokens,
       |    ${QualityScore.duckNStop(QualityScore.duckToks)} AS n_stop
       |  FROM documents),
       |q AS (
       |  SELECT text, $qExpr AS q FROM scored),
       |flagged AS (
       |  SELECT least(CAST(floor(q * 10) AS BIGINT), 9) AS decile,
       |    CASE WHEN (${StableHash.duckH60("text")}) % 10000
       |      < CAST(round(q * q * 10000) AS BIGINT) THEN 1 ELSE 0 END AS kept
       |  FROM q)
       |SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(kept) AS BIGINT) AS n_kept,
       |  round(sum(kept) / CAST(count(*) AS DOUBLE), 4) AS realized_rate
       |FROM flagged
       |GROUP BY decile
       |ORDER BY decile""".stripMargin
  }

  /** Leakage-safe train/val/test split — x04's eval-integrity upgrade.
    * A plain per-document hash split leaks: two near-duplicate documents
    * can land on opposite sides, and the eval set then scores memorized
    * training text. Here the split unit is the NEAR-DUP GROUP: MinHash-LSH
    * candidate pairs are resolved to connected components (DedupOps d06's
    * machinery), every document inherits its component label (singletons
    * are their own group), and the 90/5/5 hash split is taken on the GROUP
    * label — so a whole near-dup cluster moves together by construction.
    * The query also COMPUTES the cross-split candidate-pair count as proof
    * (must be 0; the oracle recomputes it independently via its recursive-
    * CTE components). Scale shape: the component resolution is d06's
    * O(log diameter) label propagation over candidate pairs only; the
    * split itself is map-side hash arithmetic on the group label. */
  private def x09(s: SparkSession, dir: String): DataFrame = {
    val spread = Tables(s, dir).documentsSpread
    val docs = spread
      .withColumn("n_tokens", size(Corpus.tokens()).cast("long"))
      .select(col("doc_id"), col("n_tokens"))
    // pairs is consumed TWICE (component resolution + the leak proof)
    // and its lineage is the query's dominant cost (per-shingle md5,
    // 16-seed signatures, band shuffle, pair expansion) — uncached, the
    // leaks join re-ran the whole sketch pass. assigned likewise fans
    // out three ways (two leak joins + the final rollup). Same
    // shared-lineage caching as DedupOps.ngramJaccard/m05/m06.
    val pairs = DedupOps.minhashLshPairs(spread).cache()
    val comps = DedupOps.connectedComponents(pairs)
    val bucket = StableHash.h60(col("grp")) % 100
    val assigned = docs.join(comps, Seq("doc_id"), "left")
      .withColumn("grp", coalesce(col("component"), col("doc_id")))
      .withColumn("split",
        when(bucket < 90, "train").when(bucket < 95, "validation")
          .otherwise("test"))
      .select(col("doc_id"), col("n_tokens"), col("grp"), col("split"))
      .cache()
    val leaks = pairs
      .join(assigned.select(col("doc_id").as("a_id"), col("split").as("sa")),
        "a_id")
      .join(assigned.select(col("doc_id").as("b_id"), col("split").as("sb")),
        "b_id")
      .filter(col("sa") =!= col("sb"))
      .agg(count(lit(1)).as("cross_split_pairs"))
    assigned.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("grp")).as("n_groups"),
        sum(col("n_tokens")).as("n_tokens"))
      .crossJoin(broadcast(leaks))
      .orderBy(col("split"))
  }

  private val x09Sql = {
    val b = s"(${StableHash.duckH60("grp")}) % 100"
    s"""WITH RECURSIVE ${DedupOps.minhashPairsCtes},
       |${DedupOps.componentsSql},
       |comps AS (SELECT v AS doc_id, min(r) AS component FROM reach GROUP BY v),
       |d AS (
       |  SELECT doc_id,
       |    ${QualityScore.duckNTokens} AS n_tokens
       |  FROM documents),
       |grouped AS (
       |  SELECT d.doc_id, d.n_tokens,
       |    coalesce(c.component, d.doc_id) AS grp
       |  FROM d LEFT JOIN comps c USING (doc_id)),
       |assigned AS (
       |  SELECT doc_id, n_tokens, grp,
       |    CASE WHEN $b < 90 THEN 'train'
       |      WHEN $b < 95 THEN 'validation' ELSE 'test' END AS split
       |  FROM grouped),
       |leaks AS (
       |  SELECT CAST(count(*) AS BIGINT) AS cross_split_pairs
       |  FROM pairs p
       |  JOIN assigned a ON a.doc_id = p.a_id
       |  JOIN assigned b ON b.doc_id = p.b_id
       |  WHERE a.split <> b.split)
       |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(DISTINCT grp) AS BIGINT) AS n_groups,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  (SELECT cross_split_pairs FROM leaks) AS cross_split_pairs
       |FROM assigned
       |GROUP BY split
       |ORDER BY split""".stripMargin
  }

  /** DSIR-style importance resampling — Data Selection via Importance
    * Resampling (Xie et al. 2023): score raw-pool documents by how
    * target-like their hashed-n-gram distribution is, then keep the top
    * slice. Features are hashed unigrams in [[dsirBuckets]] buckets;
    * the per-bucket importance weight is the floor-log2 count ratio
    * len(bin(c_target+1)) − len(bin(c_raw+1)) ≈ log2(p̂_t/p̂_r) + const
    * (add-1 smoothed; the normalizing const shifts every bucket equally
    * and cancels in the per-token mean, so ranking is unaffected — and
    * integer bits keep the oracle bit-exact where a real log cannot be).
    * Target distribution = the `src0` slice, standing in for the trusted
    * corpus (Wikipedia in the paper); raw pool = everything else. Keep
    * the 100 highest-scoring raw docs (mean bits/token, doc_id tiebreak).
    *
    * Scale: bucket counts are one partial-agg shuffle each with at most
    * [[dsirBuckets]] groups; the weight table is ≤[[dsirBuckets]] rows and
    * broadcasts into the token scan (map-side lookup, no shuffle of token
    * rows); per-doc scores are one keyed aggregate; top-100 is
    * TakeOrderedAndProject (never a global sort). Nothing grows with the
    * corpus except the embarrassingly-parallel scans. */
  private val dsirBuckets = 256

  private def x10(s: SparkSession, dir: String): DataFrame = {
    // consumed three ways (target counts, raw-side weight counts, final
    // raw join) — uncached, the corpus-wide token explode + md5 hashing
    // (the query's dominant cost) ran three times
    val toks = Tables(s, dir).documentsSpread
      .select(col("doc_id"), col("source"),
        explode(Corpus.tokens()).as("tok"))
      .withColumn("hb", StableHash.h60(col("tok")) % dsirBuckets)
      .cache()
    val tgt = toks.filter(col("source") === "src0")
      .groupBy(col("hb")).agg(count(lit(1)).as("ct"))
    val raw = toks.filter(col("source") =!= "src0")
    val weights = raw.groupBy(col("hb")).agg(count(lit(1)).as("cr"))
      .join(tgt, Seq("hb"), "left")
      .select(col("hb"),
        (length(expr("bin(coalesce(ct, 0L) + 1)"))
          - length(expr("bin(cr + 1)"))).cast("long").as("wbits"))
    raw.join(broadcast(weights), "hb")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("wbits")).as("bits"))
      .withColumn("dsir_score",
        round(col("bits") / col("n_tokens").cast("double"), 4))
      .orderBy(col("dsir_score").desc, col("doc_id"))
      .limit(100)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("dsir_score"))
      .orderBy(col("doc_id"))
  }

  private val x10Sql = {
    val h = StableHash.duckH60("tok")
    s"""WITH toks AS (
       |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |hb AS (
       |  SELECT doc_id, source, ($h) % $dsirBuckets AS hb FROM toks),
       |tgt AS (SELECT hb, count(*) AS ct FROM hb
       |        WHERE source = 'src0' GROUP BY hb),
       |rawc AS (SELECT hb, count(*) AS cr FROM hb
       |         WHERE source <> 'src0' GROUP BY hb),
       |w AS (
       |  SELECT r.hb,
       |    len(bin(coalesce(t.ct, 0) + 1)) - len(bin(r.cr + 1)) AS wbits
       |  FROM rawc r LEFT JOIN tgt t USING (hb)),
       |scored AS (
       |  SELECT h.doc_id, h.source, count(*) AS n_tokens,
       |    sum(w.wbits) AS bits
       |  FROM hb h JOIN w USING (hb)
       |  WHERE h.source <> 'src0'
       |  GROUP BY h.doc_id, h.source),
       |top AS (
       |  SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
       |    round(bits / CAST(n_tokens AS DOUBLE), 4) AS dsir_score
       |  FROM scored
       |  ORDER BY round(bits / CAST(n_tokens AS DOUBLE), 4) DESC, doc_id
       |  LIMIT 100)
       |SELECT doc_id, source, n_tokens, dsir_score FROM top
       |ORDER BY doc_id""".stripMargin
  }

  /** Deterministic bootstrap resampling — confidence intervals for corpus
    * metrics without randomness: each of 16 resamples draws every document
    * with a Poisson(1)-approximating multiplicity derived from
    * `h60(doc_id # resample) % 1000` (thresholds 368/736/920/981 ≈ the
    * Poisson pmf for k = 0,1,2,3,4) — the standard Poisson-ized bootstrap
    * for distributed data (per-row independent draws, no global resample
    * index), made reproducible by the content-derived hash so both engines
    * and any two cluster runs draw IDENTICAL resamples.
    *
    * The spread of `mean_chars` across the 16 rows IS the bootstrap CI of
    * the corpus mean. Scale: no explode — multiplicities weight the sums —
    * and the aggregate has 16 groups with map-side partials; cost is one
    * 16× widened scan, shuffle rows = 16. */
  private def x11(s: SparkSession, dir: String): DataFrame = {
    val r = s.range(0, 16).select(col("id").as("resample"))
    Tables(s, dir).documentsSpread
      .select(col("doc_id"), col("n_chars"))
      .crossJoin(broadcast(r))
      .withColumn("h",
        StableHash.h60(concat(col("doc_id"), lit("#"), col("resample")))
          % 1000)
      .withColumn("m",
        when(col("h") < 368, 0L).when(col("h") < 736, 1L)
          .when(col("h") < 920, 2L).when(col("h") < 981, 3L)
          .otherwise(4L))
      .groupBy(col("resample"))
      .agg(sum(col("m")).as("n_eff"),
        sum(col("m") * col("n_chars")).as("sum_chars"))
      .withColumn("mean_chars",
        round(col("sum_chars") / col("n_eff").cast("double"), 4))
      .orderBy(col("resample"))
  }

  private val x11Sql = {
    val h = StableHash.duckH60("doc_id || '#' || resample")
    s"""WITH d AS (
       |  SELECT doc_id, n_chars, resample, ($h) % 1000 AS h
       |  FROM documents, (SELECT unnest(range(16)) AS resample) r),
       |m AS (
       |  SELECT resample, n_chars,
       |    CASE WHEN h < 368 THEN 0 WHEN h < 736 THEN 1
       |      WHEN h < 920 THEN 2 WHEN h < 981 THEN 3 ELSE 4 END AS m
       |  FROM d)
       |SELECT resample, CAST(sum(m) AS BIGINT) AS n_eff,
       |  CAST(sum(m * n_chars) AS BIGINT) AS sum_chars,
       |  round(sum(m * n_chars) / CAST(sum(m) AS DOUBLE), 4) AS mean_chars
       |FROM m
       |GROUP BY resample
       |ORDER BY resample""".stripMargin
  }

  /** Weighted sampling without replacement via sequential Poisson sampling
    * (Ohlsson): priority = hash(doc) / weight, keep the k smallest — each
    * doc's inclusion odds scale with its weight (token count here: longer
    * docs carry more training signal per selection slot), and the fixed-k
    * "race" never needs replacement bookkeeping. The survey-statistics
    * standard for probability-proportional-to-size panels, and the
    * weighted complement to x01's uniform hash sample.
    *
    * Determinism without transcendentals (the x08 discipline): the
    * classic Efraimidis-Spirakis key u^(1/w) needs pow/ln whose last-ulp
    * behavior differs across engines; the sequential-Poisson key is ONE
    * IEEE division of a 32-bit integer hash by an integer weight — both
    * exactly representable as doubles — and correctly-rounded division is
    * bit-identical everywhere, so the selected set is too (ties broken on
    * doc_id).
    *
    * Scale: priorities are map-side expressions; selection is a global
    * top-k = TakeOrderedAndProject (per-partition k, driver merges P·k
    * rows) — no sort, no window, no shuffle of the corpus. */
  private def x12(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documentsSpread
      .withColumn("n_tokens", size(Corpus.tokens()).cast("long"))
      .withColumn("priority",
        round(StableHash.h32(col("text")).cast("double")
          / col("n_tokens"), 4))
      .orderBy(StableHash.h32(col("text")).cast("double") / col("n_tokens"),
        col("doc_id"))
      .limit(100)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("priority"))
      .orderBy(col("doc_id"))

  private val x12Sql = {
    val h = StableHash.duckH32("text")
    s"""SELECT doc_id, source, n_tokens, priority FROM (
       |  SELECT doc_id, source, n_tokens,
       |    round(CAST($h AS DOUBLE) / n_tokens, 4) AS priority
       |  FROM (
       |    SELECT doc_id, source, text,
       |      ${QualityScore.duckNTokens} AS n_tokens
       |    FROM documents) d
       |  ORDER BY CAST($h AS DOUBLE) / n_tokens, doc_id
       |  LIMIT 100) sampled
       |ORDER BY doc_id""".stripMargin
  }

  /** Source-grouped k-fold assignment — cross-validation folds where the
    * GROUP (here: provenance source) is the unit, so every document of a
    * source lands in the same fold and fold-held-out evaluation never sees
    * training provenance (the grouped complement of x04's per-doc split
    * and x09's near-dup-cluster split: x09 guards content leakage, this
    * guards provenance leakage — same-source stylistic twins). Fold =
    * stable hash of the source mod k: deterministic at any SF and cluster
    * size, no shuffle to assign (map-side expression), and a new source
    * joins a fold without re-dealing existing ones.
    *
    * Scale design: the report is one hash aggregate keyed by fold (k
    * groups, map-side combined); distinct-source counts are exact (the
    * source cardinality is tiny relative to docs at any scale). */
  private def x13(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documentsSpread
      .withColumn("fold",
        pmod(StableHash.h60(col("source")), lit(5)).cast("long"))
      .groupBy(col("fold"))
      .agg(countDistinct(col("source")).as("n_sources"),
        count(lit(1)).as("n_docs"),
        sum(size(Corpus.tokens())).cast("long").as("n_tokens"))
      .orderBy(col("fold"))

  private val x13Sql = {
    val h = StableHash.duckH60("source")
    s"""SELECT ($h) % 5 AS fold,
       |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |FROM documents
       |GROUP BY 1
       |ORDER BY fold""".stripMargin
  }

  /** Rolling-origin (forward-chaining) time-series splits — the temporal
    * axis of the split family: x04 splits per-doc, x09 per-near-dup
    * cluster, x13 per-source group; time-dependent models need train
    * strictly BEFORE test, re-evaluated at several origins. Three weekly
    * origins over the events month; each split reports its train mass
    * (everything before the origin) and test mass (the following week) —
    * leakage-impossible by construction, no record assignment to store.
    *
    * Scale design: the 3-row origin table broadcasts across the fact scan
    * (map-side flags, conditional aggregates with partials) — one pass
    * over the corpus for ALL origins, one tiny shuffle of 3×partitions
    * partial rows. */
  private def x14(s: SparkSession, dir: String): DataFrame = {
    val origins = s.range(3).select(col("id").as("split"),
      expr("cast(date_add(date'2024-01-08', cast(id * 7 as int)) as timestamp)")
        .as("origin"))
    val ev = Tables(s, dir).events.select(col("ts"))
    ev.join(broadcast(origins), lit(true))
      .groupBy(col("split"), col("origin"))
      .agg(
        sum(when(col("ts") < col("origin"), 1L).otherwise(0L)).as("n_train"),
        sum(when(col("ts") >= col("origin") &&
          col("ts") < col("origin") + expr("interval 7 days"), 1L)
          .otherwise(0L)).as("n_test"))
      .orderBy(col("split"))
  }

  private val x14Sql =
    """WITH origins AS (
      |  SELECT CAST(i AS BIGINT) AS split,
      |    TIMESTAMP '2024-01-08' + CAST(i AS INT) * INTERVAL 7 DAY AS origin
      |  FROM (SELECT unnest(range(3)) AS i) s)
      |SELECT o.split, o.origin,
      |  CAST(sum(CASE WHEN e.ts < o.origin THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_train,
      |  CAST(sum(CASE WHEN e.ts >= o.origin
      |    AND e.ts < o.origin + INTERVAL 7 DAY THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_test
      |FROM events e CROSS JOIN origins o
      |GROUP BY o.split, o.origin
      |ORDER BY o.split""".stripMargin

  /** Neyman-allocation stratified sampling — x02 gives every stratum the
    * same quota; Neyman (optimal allocation) sizes each stratum's draw
    * ∝ N_h·σ_h, putting budget where the variance is, the
    * minimum-variance design for a fixed total n (the survey-sampling
    * classic; for corpus work: audit-sample big erratic sources heavily,
    * skip uniform boilerplate farms).
    *
    * The whole allocation is INTEGER-exact. The Neyman weight collapses
    * to one integer square root: N_h·σ_h = √(N_h·Σx² − (Σx)²), and
    * floor(√K) of an integer K is engine-stable (K ≠ m² sits ≥ ~1/2m
    * from any integer — far beyond sqrt's half-ulp; perfect squares are
    * exact), so weights, the largest-remainder seat distribution
    * (base = n·w div W, +1 to the biggest n·w mod W, source-name
    * tiebreak), and the final per-stratum quotas are bit-identical
    * everywhere. Draws are stable-hash-ranked within each stratum
    * (reproducible, not rand()).
    *
    * Scale: one keyed moment aggregate over the corpus, a ~|sources|²
    * broadcast self-join for ranking (20 rows here; at 10⁶ strata use a
    * two-level remainder bucket sort), one per-stratum window for the
    * draw. Moments at 100 TB want DECIMAL(38) (Σx² overflows BIGINT
    * near 10¹⁸ — here max ~10¹⁴, and doubles represent integers exactly
    * to 2⁵³ so the sqrt input is exact). */
  private def x15(s: SparkSession, dir: String): DataFrame = {
    val budget = 200L
    val docs = Tables(s, dir).documentsSpread
    val stats = docs.groupBy(col("source")).agg(
      count(lit(1)).as("n_h"),
      sum(col("n_chars")).as("s1"),
      sum(col("n_chars") * col("n_chars")).as("s2"))
      .withColumn("w", floor(sqrt(
        (col("n_h") * col("s2") - col("s1") * col("s1")).cast("double")))
        .cast("long"))
    val totals = stats.agg(sum(col("w")).as("big_w"))
    val seats = stats.crossJoin(broadcast(totals))
      .withColumn("base", expr(s"($budget * w) div big_w"))
      .withColumn("rem", expr(s"($budget * w) % big_w"))
      .select(col("source"), col("n_h"), col("w"), col("base"), col("rem"))
    val leftover = seats
      .agg((lit(budget) - sum(col("base"))).as("leftover"))
    // rank strata by (rem desc, source asc) without an unpartitioned
    // window: a broadcast self-join count over the |sources|-row frame
    val ranked = seats.as("a")
      .join(broadcast(seats.select(col("source").as("b_source"),
        col("rem").as("b_rem"))),
        (col("b_rem") > col("rem")) ||
          (col("b_rem") === col("rem") && col("b_source") < col("source")),
        "left")
      .groupBy(col("source"), col("base"), col("rem"))
      .agg(count(col("b_source")).as("rank"))
    val alloc = ranked.crossJoin(broadcast(leftover))
      .withColumn("alloc",
        col("base") + when(col("rank") < col("leftover"), 1L).otherwise(0L))
      .select(col("source").as("a_source"), col("alloc"))
    val w = Window.partitionBy(col("source"))
      .orderBy(StableHash.h60(col("text")), col("doc_id"))
    docs.withColumn("rn", row_number().over(w).cast("long"))
      .join(broadcast(alloc), col("source") === col("a_source"))
      .filter(col("rn") <= col("alloc"))
      .select(col("source"), col("doc_id"), col("rn"))
      .orderBy(col("source"), col("rn"))
  }

  private val x15Sql =
    s"""WITH stats AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_h,
       |    CAST(sum(n_chars) AS BIGINT) AS s1,
       |    CAST(sum(n_chars * n_chars) AS BIGINT) AS s2
       |  FROM documents GROUP BY source),
       |wt AS (
       |  SELECT source,
       |    CAST(floor(sqrt(CAST(n_h * s2 - s1 * s1 AS DOUBLE))) AS BIGINT)
       |      AS w
       |  FROM stats),
       |seats AS (
       |  SELECT source, w,
       |    (200 * w) // (SELECT sum(w) FROM wt) AS base,
       |    (200 * w) % (SELECT sum(w) FROM wt) AS rem
       |  FROM wt),
       |ranked AS (
       |  SELECT a.source, a.base,
       |    (SELECT count(*) FROM seats b
       |     WHERE b.rem > a.rem OR (b.rem = a.rem AND b.source < a.source))
       |      AS rnk
       |  FROM seats a),
       |alloc AS (
       |  SELECT source,
       |    base + CASE WHEN rnk < 200 - (SELECT sum(base) FROM seats)
       |      THEN 1 ELSE 0 END AS alloc
       |  FROM ranked),
       |drawn AS (
       |  SELECT source, doc_id,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY ${StableHash.duckH60("text")}, doc_id) AS BIGINT) AS rn
       |  FROM documents)
       |SELECT d.source, d.doc_id, d.rn
       |FROM drawn d JOIN alloc a ON a.source = d.source
       |WHERE d.rn <= a.alloc
       |ORDER BY d.source, d.rn""".stripMargin

  /** A/B experiment assignment + readout + sample-ratio-mismatch guard —
    * the experimentation primitives on the engine's determinism
    * discipline: units (users) are assigned to arms by CONTENT HASH
    * permille (x01's reproducible-not-rand() rule — the same user lands
    * in the same arm on any engine, any rerun, any partitioning), the
    * readout is exact per-arm conversion (a user converts if they have
    * ≥1 purchase event), and the SRM guard — the #1 silent
    * experiment-invalidator in practice — flags a 50/50 split whose
    * realized counts drift beyond chance: χ² = (n₁−n₂)²/N > 3.841
    * (p < 0.05, 1 df), tested as the pure-integer inequality
    * (n₁−n₂)²·1000 > 3841·N. Scale: one distinct-user aggregate (the
    * only corpus-sized shuffle), then 2-row arithmetic. */
  private def x16(s: SparkSession, dir: String): DataFrame = {
    val users = Tables(s, dir).events
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("converted"))
      .withColumn("variant",
        when(StableHash.h60(col("user_id")) % 1000 < 500, "control")
          .otherwise("treatment"))
    val arms = users.groupBy(col("variant"))
      .agg(count(lit(1)).as("n_users"), sum(col("converted")).as("n_converted"))
    val srm = arms.agg(
      sum(col("n_users")).as("n_total"),
      (max(col("n_users")) - min(col("n_users"))).as("diff"))
      .select(((col("diff") * col("diff") * 1000) > (col("n_total") * 3841))
        .as("srm_flagged"))
    arms.crossJoin(broadcast(srm))
      .select(col("variant"), col("n_users"),
        col("n_converted").cast("long").as("n_converted"),
        expr("n_converted * 1000 div n_users").as("conv_permille"),
        col("srm_flagged"))
      .orderBy(col("variant"))
  }

  private val x16Sql =
    s"""WITH u AS (
       |  SELECT user_id,
       |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |      AS converted
       |  FROM events GROUP BY user_id),
       |assigned AS (
       |  SELECT user_id, converted,
       |    CASE WHEN (${StableHash.duckH60("user_id")}) % 1000 < 500
       |      THEN 'control' ELSE 'treatment' END AS variant
       |  FROM u),
       |arms AS (
       |  SELECT variant, CAST(count(*) AS BIGINT) AS n_users,
       |    CAST(sum(converted) AS BIGINT) AS n_converted
       |  FROM assigned GROUP BY variant),
       |srm AS (
       |  SELECT (max(n_users) - min(n_users)) * (max(n_users) - min(n_users))
       |    * 1000 > sum(n_users) * 3841 AS srm_flagged
       |  FROM arms)
       |SELECT variant, n_users, n_converted,
       |  n_converted * 1000 // n_users AS conv_permille,
       |  srm_flagged
       |FROM arms, srm
       |ORDER BY variant""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "x01_hash_sample" -> QueryDef(x01, Some(x01Sql)),
    "x02_stratified_sample" -> QueryDef(x02, Some(x02Sql)),
    "x03_corpus_stats" -> QueryDef(x03, Some(x03Sql)),
    "x04_train_test_split" -> QueryDef(x04, Some(x04Sql)),
    "x05_salted_agg" -> QueryDef(x05, Some(x05Sql)),
    "x06_lang_mix_resample" -> QueryDef(x06, Some(x06Sql)),
    "x07_cluster_balanced_sample" -> QueryDef(x07, Some(x07Sql)),
    "x08_quality_temperature_sample" -> QueryDef(x08, Some(x08Sql)),
    "x09_leakage_safe_split" -> QueryDef(x09, Some(x09Sql)),
    "x10_dsir_resample" -> QueryDef(x10, Some(x10Sql)),
    "x11_bootstrap_ci" -> QueryDef(x11, Some(x11Sql)),
    "x12_weighted_sample" -> QueryDef(x12, Some(x12Sql)),
    "x13_group_kfold" -> QueryDef(x13, Some(x13Sql)),
    "x14_rolling_origin_split" -> QueryDef(x14, Some(x14Sql)),
    "x15_neyman_allocation" -> QueryDef(x15, Some(x15Sql)),
    "x16_ab_assignment_srm" -> QueryDef(x16, Some(x16Sql)),
  )
}
