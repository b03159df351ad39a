package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.StableHash
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table — the LLM-pipeline
  * extension surface (language-ID heuristic, quality scoring, token counting,
  * document fingerprinting). All pure built-in expressions: whole-stage
  * codegen end-to-end, no UDFs, embarrassingly parallel at 100 TB (no
  * shuffle until the per-doc aggregate, which is keyed by doc_id and
  * pre-aggregated map-side).
  */
object TextOps {

  private def t(s: SparkSession, dir: String) = Tables(s, dir)

  /** Token counting: whitespace tokens AND a BPE-ish regex tokenization
    * (alnum runs — the subword-merge input units), plus char stats. */
  private def t01(s: SparkSession, dir: String): DataFrame =
    Corpus.tokenized(t(s, dir).documentsSpread)
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars_m"),
        size(expr("filter(toks, x -> length(x) >= 5)")).cast("long")
          .as("n_long_tokens"),
        size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).cast("long")
          .as("n_re_tokens"),
        round((length(col("text")) - size(col("toks")) + 1)
          / size(col("toks")).cast("double"), 4).as("avg_token_len"))
      .orderBy(col("doc_id"))

  private val t01Sql =
    s"""SELECT doc_id,
      |  ${QualityScore.duckNTokens} AS n_tokens,
      |  CAST(length(text) AS BIGINT) AS n_chars_m,
      |  CAST(len(list_filter(string_split(text, ' '), x -> length(x) >= 5)) AS BIGINT)
      |    AS n_long_tokens,
      |  CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT)
      |    AS n_re_tokens,
      |  round((length(text) - len(string_split(text, ' ')) + 1)
      |    / CAST(len(string_split(text, ' ')) AS DOUBLE), 4) AS avg_token_len
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Quality scoring: stopword ratio, short-token ratio, and a rational
    * (transcendental-free, so bit-portable) composite score. */
  private def t02(s: SparkSession, dir: String): DataFrame =
    QualityScore.scored(t(s, dir).documentsSpread)
      .withColumn("stop_ratio",
        round(col("n_stop") / col("n_tokens").cast("double"), 4))
      .select(col("doc_id"), col("n_tokens"), col("n_stop"),
        col("stop_ratio"), col("quality_score"))
      .orderBy(col("doc_id"))

  private val t02Sql =
    s"""SELECT doc_id, n_tokens, n_stop,
      |  round(n_stop / CAST(n_tokens AS DOUBLE), 4) AS stop_ratio,
      |  ${QualityScore.duckScore()} AS quality_score
      |FROM (SELECT doc_id,
      |    ${QualityScore.duckNTokens} AS n_tokens,
      |    ${QualityScore.duckNStop(QualityScore.duckToks)} AS n_stop
      |  FROM documents) d
      |ORDER BY doc_id""".stripMargin

  /** Language-ID n-gram heuristic: score = marker-substring occurrence
    * counts; predicted = argmax with a fixed tiebreak order. Occurrence
    * counting via length-delta (exact in both engines). */
  private def t03(s: SparkSession, dir: String): DataFrame = {
    def occ(marker: String): org.apache.spark.sql.Column =
      ((length(col("text")) - length(replace(col("text"), lit(marker), lit(""))))
        / marker.length).cast("long")
    t(s, dir).documentsSpread
      .withColumn("s_table", occ("table"))
      .withColumn("s_stream", occ("stream"))
      .withColumn("s_query", occ("query"))
      .withColumn("predicted",
        when(col("s_table") >= col("s_stream")
          && col("s_table") >= col("s_query"), "tabular")
          .when(col("s_stream") >= col("s_query"), "streaming")
          .otherwise("analytic"))
      .select(col("doc_id"), col("lang"), col("s_table"), col("s_stream"),
        col("s_query"), col("predicted"))
      .orderBy(col("doc_id"))
  }

  private val t03Sql =
    """SELECT doc_id, lang, s_table, s_stream, s_query,
      |  CASE WHEN s_table >= s_stream AND s_table >= s_query THEN 'tabular'
      |       WHEN s_stream >= s_query THEN 'streaming'
      |       ELSE 'analytic' END AS predicted
      |FROM (SELECT doc_id, lang,
      |    CAST((length(text) - length(replace(text, 'table', ''))) / 5 AS BIGINT) AS s_table,
      |    CAST((length(text) - length(replace(text, 'stream', ''))) / 6 AS BIGINT) AS s_stream,
      |    CAST((length(text) - length(replace(text, 'query', ''))) / 5 AS BIGINT) AS s_query
      |  FROM documents) d
      |ORDER BY doc_id""".stripMargin

  /** Document fingerprinting via char-4-gram rolling shingles: min/max
    * shingle hash + distinct shingle count (winnowing-style sketch).
    * Entirely per-row array math (array_distinct + transform + array_min/max
    * inside one codegen stage) — no explode, no shuffle; a groupBy+
    * countDistinct formulation would shuffle every gram of every doc. */
  private def t04(s: SparkSession, dir: String): DataFrame =
    t(s, dir).documentsSpread
      .filter(length(col("text")) >= 4)
      .withColumn("garr", array_distinct(expr(
        "transform(sequence(1, length(text) - 3), i -> substring(text, i, 4))")))
      .withColumn("harr", expr(
        "transform(garr, g -> CAST(conv(substring(md5(g), 1, 15), 16, 10) AS BIGINT))"))
      .select(
        col("doc_id"),
        array_min(col("harr")).as("fp_min"),
        array_max(col("harr")).as("fp_max"),
        size(col("garr")).cast("long").as("n_grams"))
      .orderBy(col("doc_id"))

  private val t04Sql =
    s"""SELECT doc_id,
       |  min(${StableHash.duckH60("gram")}) AS fp_min,
       |  max(${StableHash.duckH60("gram")}) AS fp_max,
       |  CAST(count(DISTINCT gram) AS BIGINT) AS n_grams
       |FROM (SELECT doc_id,
       |    unnest(list_transform(range(1, length(text) - 2),
       |      i -> substr(text, CAST(i AS INT), 4))) AS gram
       |  FROM documents WHERE length(text) >= 4) g
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** Corpus-level n-gram frequency: top-20 word bigrams by occurrence (the
    * vocabulary/LM-stats building block). Explode → hash aggregate with
    * map-side partial counts (the shuffle carries one row per distinct
    * bigram per partition, not per occurrence) → TakeOrderedAndProject
    * top-k (no global sort). Deterministic tiebreak on the bigram itself. */
  private def t05(s: SparkSession, dir: String): DataFrame =
    Corpus.tokenized(t(s, dir).documentsSpread, 2)
      .select(explode(Corpus.ngrams(2)).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(20)

  private val t05Sql =
    """SELECT bigram, CAST(count(*) AS BIGINT) AS n FROM (
      |  SELECT unnest(list_transform(range(1, len(w)),
      |    i -> concat(w[CAST(i AS INT)], ' ', w[CAST(i AS INT) + 1])))
      |    AS bigram
      |  FROM (SELECT string_split(text, ' ') AS w FROM documents
      |        WHERE len(string_split(text, ' ')) >= 2) t) u
      |GROUP BY bigram
      |ORDER BY n DESC, bigram
      |LIMIT 20""".stripMargin

  /** PII scrubbing: redact numeric identifiers and email-shaped tokens from
    * the event payloads, count what was removed, and flag rows that had any
    * hit — the pre-training scrub stage. Pure regexp expressions (codegen,
    * map-side only); the patterns are simple character classes so Java
    * regex and DuckDB RE2 agree byte-for-byte. */
  private def t06(s: SparkSession, dir: String): DataFrame =
    t(s, dir).events
      // n_num_redacted counts digit runs AFTER the email pass — the
      // number of <NUM> substitutions actually present in `scrubbed`.
      // Counting over the raw props would also count digits inside
      // email addresses the first pass already replaced wholesale as
      // <EMAIL> ("user123@mail99.com" performs zero <NUM> redactions).
      .withColumn("deemailed", regexp_replace(col("props"),
        "[A-Za-z0-9.]+@[A-Za-z0-9.]+", "<EMAIL>"))
      .select(
        col("event_id"),
        regexp_replace(col("deemailed"), "[0-9]+", "<NUM>").as("scrubbed"),
        size(expr("regexp_extract_all(deemailed, '[0-9]+', 0)")).cast("long")
          .as("n_num_redacted"),
        size(expr(
          "regexp_extract_all(props, '[A-Za-z0-9.]+@[A-Za-z0-9.]+', 0)"))
          .cast("long").as("n_email_redacted"),
        (col("props").rlike("[0-9]")
          || col("props").rlike("[A-Za-z0-9.]+@[A-Za-z0-9.]+")).as("had_pii"))
      .orderBy(col("event_id"))

  private val t06Sql =
    """WITH de AS (
      |  SELECT event_id, props,
      |    regexp_replace(props, '[A-Za-z0-9.]+@[A-Za-z0-9.]+', '<EMAIL>',
      |      'g') AS deemailed
      |  FROM events)
      |SELECT event_id,
      |  regexp_replace(deemailed, '[0-9]+', '<NUM>', 'g') AS scrubbed,
      |  CAST(len(regexp_extract_all(deemailed, '[0-9]+')) AS BIGINT)
      |    AS n_num_redacted,
      |  CAST(len(regexp_extract_all(props, '[A-Za-z0-9.]+@[A-Za-z0-9.]+'))
      |    AS BIGINT) AS n_email_redacted,
      |  (regexp_matches(props, '[0-9]')
      |    OR regexp_matches(props, '[A-Za-z0-9.]+@[A-Za-z0-9.]+')) AS had_pii
      |FROM de
      |ORDER BY event_id""".stripMargin

  /** Repetition-ratio quality signal (the Gopher-rules "fraction of
    * duplicated n-grams" filter): 1 − distinct/total word bigrams per doc.
    * Highly repetitive machine-generated or boilerplate text scores high
    * and gets filtered before training. Pure per-row array math inside
    * whole-stage codegen — no explode, no shuffle before the output sort. */
  private def t07(s: SparkSession, dir: String): DataFrame =
    Corpus.tokenized(t(s, dir).documentsSpread, 2)
      .withColumn("bg", Corpus.ngrams(2))
      .select(col("doc_id"),
        size(col("bg")).cast("long").as("n_bigrams"),
        round(lit(1.0) - size(array_distinct(col("bg")))
          / size(col("bg")).cast("double"), 4).as("rep_ratio"))
      .orderBy(col("doc_id"))

  private val t07Sql =
    """SELECT doc_id, CAST(len(bl) AS BIGINT) AS n_bigrams,
      |  round(1.0 - len(list_distinct(bl)) / CAST(len(bl) AS DOUBLE), 4)
      |    AS rep_ratio
      |FROM (SELECT doc_id, list_transform(range(1, len(w)),
      |    i -> concat(w[CAST(i AS INT)], ' ', w[CAST(i AS INT) + 1])) AS bl
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t
      |  WHERE len(w) >= 2) b
      |ORDER BY doc_id""".stripMargin

  /** Benchmark-contamination detection: flag corpus documents sharing any
    * word-5-gram with a held-out probe set (here: the 20 lowest doc_ids,
    * standing in for an eval benchmark). The canonical pre-training
    * decontamination pass. Topology: per-doc distinct 5-grams (array math),
    * equi-join on the 64-bit gram hash against the probe grams — the probe
    * side is tiny and broadcasts; the corpus side streams through without
    * ever pairing docs against docs. Scale: cost ∝ corpus grams × 1
    * broadcast lookup, independent of probe-set pair count. */
  private def t08(s: SparkSession, dir: String): DataFrame = {
    val grams = ContaminationGrams.exploded(t(s, dir).documentsSpread)
    val probe = grams.filter(col("doc_id") < 20).select(col("g")).distinct()
    grams.filter(col("doc_id") >= 20)
      .join(broadcast(probe), Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_contaminated_grams"))
      .orderBy(col("doc_id"))
  }

  private val t08Sql =
    s"""WITH ${ContaminationGrams.duckGramRows("grams")},
      |probe AS (SELECT DISTINCT gram FROM grams WHERE doc_id < 20)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contaminated_grams
      |FROM grams JOIN probe USING (gram)
      |WHERE doc_id >= 20
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Boilerplate-segment scrub — the CCNet/RefinedWeb line-dedup pass:
    * segments repeated across ≥ `minDf` distinct documents (nav bars,
    * cookie banners, license tails) are removed from every document, and
    * each document is re-assembled from its surviving segments in order.
    * Real corpora segment on newline/paragraph breaks; this synthetic
    * corpus has no line structure, so the splitter groups words into
    * fixed 8-word chunks — the plumbing (doc-frequency count, broadcast
    * boilerplate set, ordered reassembly) is identical either way.
    *
    * Topology at 100 TB: one shuffle for the per-chunk doc-frequency
    * (map-side partial agg on the per-doc-distinct rows), then the
    * boilerplate set — small BY CONSTRUCTION (only chunks crossing the
    * frequency threshold) — broadcasts into the marking join, and one
    * keyed shuffle per doc rebuilds the text. No self-join, nothing
    * quadratic, no driver collect. */
  def boilerplateScrub(docs: DataFrame, chunkWords: Int = 8,
      minDf: Int = 3): DataFrame = {
    val chunks = Corpus.tokenized(docs)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, (size(toks) - 1) div $chunkWords),
           |  i -> concat_ws(' ', slice(toks, i * $chunkWords + 1, $chunkWords)))"""
          .stripMargin))
        .as(Seq("pos", "chunk")))
    val boiler = chunks.select(col("doc_id"), col("chunk")).distinct()
      .groupBy(col("chunk")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("chunk"), lit(true).as("is_b"))
    chunks.join(broadcast(boiler), Seq("chunk"), "left")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("chunk"),
        coalesce(col("is_b"), lit(false)).as("is_b")))).as("cs"))
      .select(col("doc_id"),
        size(col("cs")).cast("long").as("n_chunks"),
        expr("CAST(size(filter(cs, c -> c.is_b)) AS BIGINT)").as("n_removed"),
        concat_ws(" ",
          expr("transform(filter(cs, c -> NOT c.is_b), c -> c.chunk)"))
          .as("clean_text"))
      .orderBy(col("doc_id"))
  }

  private def t09(s: SparkSession, dir: String): DataFrame =
    boilerplateScrub(t(s, dir).documentsSpread)

  private val t09Sql =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |chunks AS (
      |  SELECT doc_id, i AS pos,
      |    array_to_string(w[(i * 8 + 1):(i * 8 + 8)], ' ') AS chunk
      |  FROM toks, LATERAL (SELECT unnest(range((len(w) + 7) // 8)) AS i) r),
      |boiler AS (
      |  SELECT chunk FROM (
      |    SELECT chunk, count(*) AS df
      |    FROM (SELECT DISTINCT doc_id, chunk FROM chunks) d
      |    GROUP BY chunk)
      |  WHERE df >= 3)
      |SELECT c.doc_id,
      |  CAST(count(*) AS BIGINT) AS n_chunks,
      |  CAST(count(*) FILTER (WHERE b.chunk IS NOT NULL) AS BIGINT)
      |    AS n_removed,
      |  coalesce(string_agg(c.chunk, ' ' ORDER BY c.pos)
      |    FILTER (WHERE b.chunk IS NULL), '') AS clean_text
      |FROM chunks c LEFT JOIN boiler b ON b.chunk = c.chunk
      |GROUP BY c.doc_id
      |ORDER BY c.doc_id""".stripMargin

  /** Unigram-surprisal quality signal — the perplexity-filter stand-in a
    * curation pipeline runs when no LM is at hand (docs whose tokens are
    * uniformly corpus-frequent read as templated boilerplate; rare-token-
    * dense docs read as noise; both tails get threshold-filtered). True
    * −log2 p needs a transcendental log whose last-ulp differs across
    * libms — un-oracle-able — so surprisal is integer floor-log2:
    * bits(n) = length(bin(n)) − 1, surprisal(tok) ≈ bits(N_total) −
    * bits(count_tok). Bit-exact in both engines, within 1 bit of the real
    * value — all a threshold filter needs.
    *
    * Scale: token counts are one partial-agg shuffle (rows = vocabulary,
    * not corpus tokens); the count lookup is an equi-join on the token key
    * (AQE broadcasts it when the vocab fits); the per-doc mean is a second
    * keyed aggregate. The 1-row total broadcasts. No pairwise stage. */
  private def t10(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir).documentsSpread
      .select(col("doc_id"), explode(Corpus.tokens()).as("tok"))
    val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val total = counts.agg(sum(col("c")).as("n_total"))
    toks.join(counts, "tok")
      .crossJoin(broadcast(total))
      .withColumn("surp", length(expr("bin(n_total)")) - length(expr("bin(c)")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("surp")).as("total_bits"),
        round(avg(col("surp")), 4).as("mean_surprisal_bits"))
      .orderBy(col("doc_id"))
  }

  private val t10Sql =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |counts AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
      |total AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM counts),
      |surp AS (
      |  SELECT doc_id, len(bin(n_total)) - len(bin(c)) AS s
      |  FROM toks JOIN counts USING (tok) CROSS JOIN total)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(sum(s) AS BIGINT) AS total_bits,
      |  round(avg(s), 4) AS mean_surprisal_bits
      |FROM surp GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Character-entropy quality signal — the "is this text or noise" filter:
    * natural prose sits in a mid-entropy band, while base64 blobs / minified
    * code score high and repeated-character padding scores low; curation
    * pipelines threshold both tails. True Shannon −Σ p·log2 p needs a
    * transcendental log whose last ulp differs across libms (un-oracle-able),
    * so the score is floor-log2 entropy (same discipline as t10): for each
    * distinct char with count k in a doc of n chars, contribute
    * k·(len(bin(n)) − len(bin(k))) ≈ k·log2(n/k) bits; report mean bits per
    * char. Bit-exact in both engines, within 1 bit of the real value — all a
    * threshold filter needs.
    *
    * Scale: entirely per-row array math (distinct-char table built with
    * transform/filter inside ONE whole-stage-codegen stage over an ≤37-symbol
    * alphabet) — no explode, no shuffle before the bounded output sort;
    * embarrassingly parallel at 100 TB. */
  private def t11(s: SparkSession, dir: String): DataFrame =
    t(s, dir).documentsSpread
      // (?d) = UNIX_LINES, matching the oracle's RE2 '.': Java's
      // default '.' also excludes \r and the U+0085/U+2028/U+2029
      // separators, so a document with a Windows line ending would
      // silently drop chars from the entropy base on the Spark side
      // only (same fix as m03)
      .withColumn("chars", expr("regexp_extract_all(text, '(?d).', 0)"))
      .withColumn("n", size(col("chars")).cast("long"))
      .withColumn("counts", expr(
        "transform(array_distinct(chars), ch -> size(filter(chars, x -> x = ch)))"))
      .select(
        col("doc_id"),
        col("n").as("n_chars_m"),
        size(col("counts")).cast("long").as("n_distinct_chars"),
        round(expr(
          """aggregate(counts, 0L,
            |  (acc, k) -> acc + k * CAST(length(bin(n)) - length(bin(k)) AS BIGINT))"""
            .stripMargin) / col("n").cast("double"), 4)
          .as("entropy_bits"))
      .orderBy(col("doc_id"))

  private val t11Sql =
    """SELECT doc_id,
      |  CAST(len(chars) AS BIGINT) AS n_chars_m,
      |  CAST(len(list_distinct(chars)) AS BIGINT) AS n_distinct_chars,
      |  round(list_sum(list_transform(list_distinct(chars),
      |      ch -> len(list_filter(chars, x -> x = ch))
      |            * (len(bin(len(chars))) - len(bin(len(list_filter(chars, x -> x = ch)))))))
      |    / CAST(len(chars) AS DOUBLE), 4) AS entropy_bits
      |FROM (SELECT doc_id, regexp_extract_all(text, '.') AS chars
      |      FROM documents) c
      |ORDER BY doc_id""".stripMargin

  /** TF-IDF keyword extraction: top-3 terms per document by an
    * integer-exact tf-idf score — the per-doc keyword/topic signal
    * curation pipelines use for domain tagging and mixture auditing.
    *
    * Determinism: the textbook `tf · ln(N/df)` puts a transcendental in
    * the score, and engines' libm rounding could flip a rank at a tie
    * boundary. The rank-equivalent rational form `(tf · 1000 · N) div df`
    * is exact 64-bit integer arithmetic in both engines (monotone in tf
    * and 1/df — the same ordering signal, bit-identical everywhere).
    *
    * Scale design: term rows shuffle three times, never join — the
    * (doc, term) tf aggregate (map-side partials soak repeated terms), a
    * doc-frequency window partitioned by term (vocabulary-keyed,
    * cluster-local per term), and the per-doc rank window. No
    * vocabulary × corpus join, no global structure; every stage is keyed
    * by term or doc_id. */
  private def t12(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir).documentsSpread
    val tf = docs
      .select(col("doc_id"), explode(Corpus.tokens()).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val byTerm = Window.partitionBy(col("term"))
    val scored = tf
      .withColumn("df", count(lit(1)).over(byTerm))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_docs"))))
      .withColumn("score_milli", expr("tf * 1000 * n_docs div df"))
    val rank = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_milli").desc, col("term"))
    scored
      .withColumn("rk", row_number().over(rank).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("term"), col("tf"),
        col("df"), col("score_milli"))
      .orderBy(col("doc_id"), col("rk"))
  }

  private val t12Sql =
    """WITH terms AS (
      |  SELECT doc_id, t AS term FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS t
      |    FROM documents) u
      |  WHERE length(t) > 0),
      |tf AS (
      |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      |  FROM terms GROUP BY doc_id, term),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc_id, term, tf,
      |    CAST(count(*) OVER (PARTITION BY term) AS BIGINT) AS df
      |  FROM tf),
      |ranked AS (
      |  SELECT doc_id, term, tf, df,
      |    (tf * 1000 * n.n_docs) // df AS score_milli,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY (tf * 1000 * n.n_docs) // df DESC, term) AS rk
      |  FROM scored, n)
      |SELECT doc_id, CAST(rk AS BIGINT) AS rk, term, tf, df, score_milli
      |FROM ranked WHERE rk <= 3
      |ORDER BY doc_id, rk""".stripMargin

  /** Bigram conditional surprisal — t10's unigram LM upgraded to a
    * conditional model: each transition costs
    * `floor_log2(c(prev·)) − floor_log2(c(prev,cur))` bits
    * (≈ −log2 P(cur|prev)), so formulaic text (high-count transitions)
    * scores low and incoherent token soup scores high — a sharper quality
    * signal than unigram frequency alone, still with zero transcendentals
    * (floor-log2 is binary-string length, exact in both engines).
    *
    * Scale design: no vocabulary join at all — the bigram count and the
    * prefix count are two window passes over the exploded bigram rows
    * (partitioned by the bigram and by the prefix token respectively, both
    * vocabulary-keyed and cluster-local), then one doc-keyed aggregate.
    * Same three-shuffle shape as t12. */
  private def t13(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bi = Corpus.tokenized(t(s, dir).documentsSpread, 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(toks) - 2),
          |  i -> struct(toks[i] AS prev, toks[i+1] AS cur))""".stripMargin))
        .as("b"))
      .select(col("doc_id"), col("b.prev").as("prev"), col("b.cur").as("cur"))
    val scored = bi
      .withColumn("cb",
        count(lit(1)).over(Window.partitionBy(col("prev"), col("cur"))))
      .withColumn("cp", count(lit(1)).over(Window.partitionBy(col("prev"))))
      .withColumn("surp",
        length(expr("bin(cp)")) - length(expr("bin(cb)")))
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("surp")).as("total_bits"),
        round(avg(col("surp")), 4).as("mean_bits"))
      .orderBy(col("doc_id"))
  }

  private val t13Sql =
    """WITH bi AS (
      |  SELECT doc_id,
      |    w[CAST(i AS INT)] AS prev, w[CAST(i AS INT) + 1] AS cur
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t,
      |    unnest(range(1, len(w))) AS u(i)
      |  WHERE len(w) >= 2),
      |scored AS (
      |  SELECT doc_id,
      |    len(bin(count(*) OVER (PARTITION BY prev)))
      |      - len(bin(count(*) OVER (PARTITION BY prev, cur))) AS surp
      |  FROM bi)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |  CAST(sum(surp) AS BIGINT) AS total_bits,
      |  round(avg(surp), 4) AS mean_bits
      |FROM scored GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Contamination attribution: for every contaminated corpus document,
    * WHICH benchmark document it overlaps and by how many distinct
    * 5-grams — the audit output a decontamination run files alongside the
    * drop list (t08 reports only per-corpus-doc totals; attribution is
    * what lets a human distinguish "quotes benchmark question 7" from
    * "shares a boilerplate header with everything").
    *
    * Scale shape: identical to t08 — the probe side (benchmark grams)
    * broadcasts into an equi-join on the 64-bit gram hash; the pair
    * aggregate is keyed by (corpus doc, probe doc) with map-side
    * partials. Output rows ∝ contaminated pairs, never corpus × probe. */
  private def t14(s: SparkSession, dir: String): DataFrame = {
    val grams = ContaminationGrams.exploded(t(s, dir).documentsSpread)
    val probe = grams.filter(col("doc_id") < 20)
      .select(col("doc_id").as("probe_id"), col("g"))
    grams.filter(col("doc_id") >= 20)
      .join(broadcast(probe), Seq("g"))
      .groupBy(col("doc_id"), col("probe_id"))
      .agg(count(lit(1)).as("n_shared_grams"))
      .orderBy(col("doc_id"), col("probe_id"))
  }

  private val t14Sql =
    s"""WITH ${ContaminationGrams.duckGramRows("gr")}
      |SELECT c.doc_id AS doc_id, p.doc_id AS probe_id,
      |  CAST(count(*) AS BIGINT) AS n_shared_grams
      |FROM gr c JOIN gr p ON c.gram = p.gram
      |WHERE c.doc_id >= 20 AND p.doc_id < 20
      |GROUP BY c.doc_id, p.doc_id
      |ORDER BY doc_id, probe_id""".stripMargin

  /** Corpus-level gram novelty — the diversity/memorization-risk signal
    * corpus audits report next to surprisal: per doc, the fraction of its
    * distinct 5-grams that appear in NO other document. High-novelty docs
    * carry unique content; near-zero novelty marks templated or syndicated
    * text even when no single pair passes a dedup threshold (t07 measures
    * repetition WITHIN a doc; this measures it ACROSS the corpus).
    *
    * Scale: per-doc distinct gram hashes are one array expression (the
    * gram string dies inside xxhash64 — only 8-byte keys shuffle); doc
    * frequency is one keyed aggregate, and because a df=1 gram has exactly
    * one owner, `min(doc_id)` recovers that owner in the SAME aggregate —
    * no join back to the exploded rows. */
  private def t15(s: SparkSession, dir: String): DataFrame = {
    // pruned BEFORE caching: both consumers read only (doc_id, ghashes) —
    // caching the full row would pin text + the toks array too (p08's
    // discipline)
    val base = ContaminationGrams.perDoc(t(s, dir).documentsSpread)
      .withColumnRenamed("ghashes", "ghs")
      .cache()
    val sizes = base.select(col("doc_id"),
      size(col("ghs")).cast("long").as("n_grams"))
    val novel = base.select(col("doc_id"), explode(col("ghs")).as("g"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("doc_id"))
      .filter(col("df") === 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_novel"))
    sizes.join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        round(coalesce(col("n_novel"), lit(0L))
          / col("n_grams").cast("double"), 4).as("novelty"))
      .orderBy(col("doc_id"))
  }

  private val t15Sql =
    """WITH base AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |  WHERE len(string_split(text, ' ')) >= 5),
      |grams AS (
      |  SELECT DISTINCT doc_id,
      |    concat(w[i], ' ', w[i+1], ' ', w[i+2], ' ', w[i+3], ' ', w[i+4])
      |      AS gram
      |  FROM base, LATERAL (SELECT unnest(range(1, len(w) - 3)) AS i) r),
      |sizes AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
      |owners AS (
      |  SELECT min(doc_id) AS doc_id FROM grams
      |  GROUP BY gram HAVING count(*) = 1),
      |nv AS (SELECT doc_id, count(*) AS n_novel FROM owners GROUP BY doc_id)
      |SELECT s.doc_id, CAST(s.n_grams AS BIGINT) AS n_grams,
      |  CAST(coalesce(nv.n_novel, 0) AS BIGINT) AS n_novel,
      |  round(coalesce(nv.n_novel, 0) / CAST(s.n_grams AS DOUBLE), 4)
      |    AS novelty
      |FROM sizes s LEFT JOIN nv ON nv.doc_id = s.doc_id
      |ORDER BY s.doc_id""".stripMargin

  /** Model-based quality scoring — the hashed-bag-of-words linear
    * classifier stage (fastText/CCNet-style) that follows t02's heuristic
    * gates in real corpus pipelines: each token hashes into one of 64
    * feature buckets, the document's logit is the bucket-weight mean, and
    * `keep` is the classifier verdict. The weight vector here is a
    * deterministic stand-in (integer weights in [-500, 500] from a
    * multiplicative hash of the bucket id) — swapping in trained weights
    * is replacing one 64-element literal; at 2^18+ buckets ship the
    * weights as a broadcast-joined table instead of a literal array.
    *
    * Scale: scoring is ONE per-row array expression — token → bucket →
    * weight lookup → integer fold, all inside whole-stage codegen; no
    * explode, no join, no shuffle before the output sort. Integer logits
    * (permille, truncation identical in both engines) keep the verdict
    * bit-portable. */
  private def t16(s: SparkSession, dir: String): DataFrame = {
    val w: Seq[Long] = (0 until 64).map(b => (b * 2654435761L) % 1001L - 500L)
    t(s, dir).documentsSpread
      .withColumn("ws", expr(
        s"""transform(split(text, ' '), tok ->
           |  element_at(array(${w.mkString("L,")}L),
           |    CAST(CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT)
           |      % 64 + 1 AS INT)))""".stripMargin))
      .withColumn("n_tokens", size(col("ws")).cast("long"))
      .withColumn("logit_sum",
        expr("aggregate(ws, 0L, (a, x) -> a + x)"))
      .select(col("doc_id"), col("n_tokens"),
        expr("logit_sum * 1000 div n_tokens").as("logit_permille"),
        (expr("logit_sum * 1000 div n_tokens") > 0).as("keep"))
      .orderBy(col("doc_id"))
  }

  private val t16Sql = {
    val w: Seq[Long] = (0 until 64).map(b => (b * 2654435761L) % 1001L - 500L)
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |sc AS (
       |  SELECT doc_id, count(*) AS n_tokens,
       |    sum(([${w.mkString(",")}])[
       |      CAST(('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 + 1 AS INT)])
       |      AS logit_sum
       |  FROM tok GROUP BY doc_id)
       |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(logit_sum * 1000 // n_tokens AS BIGINT) AS logit_permille,
       |  (logit_sum * 1000 // n_tokens) > 0 AS keep
       |FROM sc
       |ORDER BY doc_id""".stripMargin
  }

  /** Overlapping token-window chunking — the RAG/embedding-prep stage:
    * every document splits into 64-token chunks on a 48-token stride
    * (16-token overlap so no boundary sentence is lost to retrieval),
    * each chunk carrying its offset, length, and a 60-bit content
    * fingerprint for chunk-level dedup (shared boilerplate chunks
    * collapse before the embedding model ever sees them — embedding
    * compute, not storage, is the expensive side at corpus scale).
    *
    * Scale: pure per-row integer enumeration + array slices inside one
    * codegen stage (the m04 shape in the token domain) — rows ∝ corpus
    * tokens / stride, no shuffle before the output sort. Chunk starts
    * are every multiple of the stride below the token count, so the
    * enumeration is exact integer math both engines reproduce. */
  private def t17(s: SparkSession, dir: String): DataFrame =
    Corpus.tokenized(t(s, dir).documentsSpread)
      .withColumn("n", size(col("toks")))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(expr("sequence(0, (greatest(n, 1) - 1) div 48)"))
          .as("chunk_idx"))
      .select(
        col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        (col("chunk_idx") * 48L).as("start_tok"),
        least(lit(64L), col("n") - col("chunk_idx") * 48L).as("n_toks"),
        expr("""CAST(conv(substring(
          |  md5(concat_ws(' ', slice(toks, chunk_idx * 48 + 1, 64))),
          |  1, 15), 16, 10) AS BIGINT)""".stripMargin).as("chunk_fp"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  private val t17Sql =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks,
       |    len(string_split(text, ' ')) AS n
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, toks, n,
       |    unnest(range(0, (greatest(n, 1) - 1) // 48 + 1)) AS chunk_idx
       |  FROM d)
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |  CAST(chunk_idx * 48 AS BIGINT) AS start_tok,
       |  CAST(least(64, n - chunk_idx * 48) AS BIGINT) AS n_toks,
       |  ${StableHash.duckH60(
            "array_to_string(toks[(chunk_idx * 48 + 1):(chunk_idx * 48 + 64)], ' ')")}
       |    AS chunk_fp
       |FROM c
       |ORDER BY doc_id, chunk_idx""".stripMargin

  /** Per-source distribution-shift audit: KL divergence of each source's
    * unigram distribution from the corpus-wide distribution — the standard
    * "is this slice of the crawl drifting from the mixture" gate before a
    * source is admitted to (or re-weighted in) a training mix, and the
    * detector for collapsed/templated sources (low-entropy slices score
    * high KL).
    *
    * Scale: one (source, token) hash aggregate over the exploded corpus —
    * map-side combined, so shuffle rows = |sources| × |vocab|, not corpus
    * tokens — then everything downstream (source totals, global totals,
    * the KL join) runs on vocabulary-bounded frames; the global
    * distribution side broadcasts. Every source token appears in the
    * global distribution by construction, so no log(0) guard is needed.
    * The KL sum adds |vocab| doubles ≥1e-6 apart in magnitude; rounding
    * to 4dp sits ~12 orders above summation-order noise, so any partition
    * count hash-matches the oracle. */
  private def t18(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir).documentsSpread
      .select(col("source"), explode(Corpus.tokens()).as("tok"))
      .filter(length(col("tok")) > 0)
    val st = toks.groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("c_st"))
    val srcTot = st.groupBy(col("source")).agg(sum(col("c_st")).as("n_s"))
    val glob = st.groupBy(col("tok")).agg(sum(col("c_st")).as("c_t"))
    val globTot = glob.agg(sum(col("c_t")).as("n_g"))
    st.join(srcTot, "source")
      .join(broadcast(glob), "tok")
      .join(broadcast(globTot), lit(true))
      .withColumn("term",
        (col("c_st") / col("n_s"))
          * log((col("c_st") / col("n_s")) / (col("c_t") / col("n_g"))))
      .groupBy(col("source"))
      .agg(max(col("n_s")).as("n_tokens"),
        round(sum(col("term")), 4).as("kl_divergence"))
      .orderBy(col("source"))
  }

  private val t18Sql =
    """WITH toks AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |st AS (
      |  SELECT source, tok, count(*) AS c_st
      |  FROM toks WHERE length(tok) > 0
      |  GROUP BY source, tok),
      |src_tot AS (SELECT source, sum(c_st) AS n_s FROM st GROUP BY source),
      |gdist AS (SELECT tok, sum(c_st) AS c_t FROM st GROUP BY tok),
      |gtot AS (SELECT sum(c_t) AS n_g FROM gdist)
      |SELECT st.source, CAST(max(n_s) AS BIGINT) AS n_tokens,
      |  round(sum((c_st / n_s) * ln((c_st / n_s) / (c_t / n_g))), 4)
      |    AS kl_divergence
      |FROM st
      |JOIN src_tot ON st.source = src_tot.source
      |JOIN gdist ON st.tok = gdist.tok
      |CROSS JOIN gtot
      |GROUP BY st.source
      |ORDER BY st.source""".stripMargin

  /** Vocabulary-growth (Heaps'-law) audit: per source, the distinct-token
    * count after the first 25/50/75/100% of its documents (by doc_id
    * order). Healthy natural-language slices grow sublinearly but keep
    * growing; a templated/collapsed source plateaus early — the curve
    * shape is the audit signal, complementing t18's endpoint KL number.
    *
    * Scale: "cumulative distinct" never materializes per-prefix sets —
    * each (source, token) reduces to its FIRST occurrence rank (min of
    * the per-source doc rank, map-side combined), the quartile where
    * each token first appears is integer math, and the growth curve is a
    * cumulative sum over the |sources|×4 frame. Doc ranks come from a
    * per-source window (cluster-local per source); the token aggregate is
    * the only corpus-sized shuffle. All boundaries use truncating integer
    * division on positive counts, identical in both engines. */
  private def t19(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = t(s, dir).documentsSpread
      .withColumn("r", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("doc_id"))).cast("long"))
    val srcM = ranked.groupBy(col("source")).agg(count(lit(1)).as("m"))
    val firstR = ranked
      .select(col("source"), col("r"),
        explode(Corpus.tokens()).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("source"), col("tok")).agg(min(col("r")).as("first_r"))
    val newPerQ = firstR.join(broadcast(srcM), "source")
      .withColumn("qf", expr("(4 * first_r + m - 1) div m"))
      .groupBy(col("source"), col("qf")).agg(count(lit(1)).as("n_new"))
    val frame = srcM.select(col("source"), col("m"),
      explode(expr("sequence(1L, 4L)")).as("quartile"))
    val cum = Window.partitionBy(col("source")).orderBy(col("quartile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    frame.join(newPerQ,
        frame("source") === newPerQ("source")
          && col("quartile") === col("qf"), "left")
      .select(frame("source"), col("quartile"), col("m"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("vocab_size", sum(col("n_new")).over(cum))
      .select(col("source"), col("quartile"),
        expr("(m * quartile + 3) div 4").as("n_docs"),
        col("vocab_size"))
      .orderBy(col("source"), col("quartile"))
  }

  private val t19Sql =
    """WITH ranked AS (
      |  SELECT source, text,
      |    CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
      |      AS BIGINT) AS r
      |  FROM documents),
      |srcm AS (SELECT source, count(*) AS m FROM ranked GROUP BY source),
      |first_r AS (
      |  SELECT source, tok, min(r) AS first_r FROM (
      |    SELECT source, r, unnest(string_split(text, ' ')) AS tok
      |    FROM ranked) e
      |  WHERE length(tok) > 0
      |  GROUP BY source, tok),
      |new_per_q AS (
      |  SELECT f.source, (4 * first_r + m - 1) // m AS qf,
      |    count(*) AS n_new
      |  FROM first_r f JOIN srcm USING (source)
      |  GROUP BY f.source, (4 * first_r + m - 1) // m),
      |frame AS (
      |  SELECT source, m, unnest(range(1, 5)) AS quartile FROM srcm)
      |SELECT f.source, CAST(f.quartile AS BIGINT) AS quartile,
      |  CAST((m * quartile + 3) // 4 AS BIGINT) AS n_docs,
      |  CAST(sum(coalesce(n_new, 0)) OVER (PARTITION BY f.source
      |    ORDER BY f.quartile
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS vocab_size
      |FROM frame f
      |LEFT JOIN new_per_q n ON f.source = n.source AND f.quartile = n.qf
      |ORDER BY f.source, f.quartile""".stripMargin

  /** BPE merge-candidate counting — the inner loop of tokenizer training:
    * count adjacent character pairs over the corpus, weighted by word
    * frequency (the top pair is what the first BPE merge would fuse).
    * Overlapping occurrences count ("aaa" contributes "aa" twice),
    * matching the standard algorithm.
    *
    * Scale: the corpus collapses to its word-frequency table first (ONE
    * map-side-combined aggregate — the only corpus-sized shuffle); pair
    * expansion then runs over the distinct vocabulary only, so the
    * explode factor applies to |vocab| rows, not corpus tokens, and the
    * pair aggregate plus TakeOrdered top-k are vocabulary-bounded. This
    * is why BPE training at 100 TB is feasible at all — and the same
    * word-freq-first shape serves every subsequent merge iteration. */
  private def t20(s: SparkSession, dir: String): DataFrame = {
    val wordFreq = t(s, dir).documentsSpread
      .select(explode(Corpus.tokens()).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    wordFreq
      .select(col("freq"), explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("freq")).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(30)
  }

  private val t20Sql =
    """SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM (
      |  SELECT freq, unnest(list_transform(range(1, length(word)),
      |    i -> substr(word, CAST(i AS INT), 2))) AS pair
      |  FROM (
      |    SELECT word, count(*) AS freq FROM (
      |      SELECT unnest(string_split(text, ' ')) AS word FROM documents) w
      |    WHERE length(word) >= 2
      |    GROUP BY word) wf) p
      |GROUP BY pair
      |ORDER BY n DESC, pair
      |LIMIT 30""".stripMargin

  /** Source-to-source similarity matrix via source-level MinHash: estimate
    * the token-set Jaccard between every pair of sources from 16-component
    * signatures — the mirror/overlap detector between corpus slices (two
    * crawls of the same site, re-hosted dumps) that runs without ever
    * comparing documents pairwise. Uses the same universal hash family as
    * the document-level MinHash ops ([[graft.functions.MinHashFamily]]).
    *
    * Scale: the corpus reduces to its distinct (source, token) set (one
    * map-side-combined aggregate, vocab-bounded); signatures are a
    * (source, seed) min-aggregate over that set × a broadcast 16-row seed
    * table; the pair stage compares |sources|² × 16 signature components —
    * independent of corpus size. Pure int64 arithmetic end to end. */
  private def t21(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.MinHashFamily
    val seedArr = (0 until 16)
      .map(i => s"named_struct('seed', ${i}L, 'a', ${MinHashFamily.a(i)}L, " +
        s"'b', ${MinHashFamily.b(i)}L)")
      .mkString("array(", ", ", ")")
    val sigs = t(s, dir).documentsSpread
      .select(col("source"), explode(Corpus.tokens()).as("tok"))
      .filter(length(col("tok")) > 0)
      .distinct()
      .withColumn("x",
        expr("CAST(conv(substring(md5(tok), 1, 7), 16, 10) AS BIGINT)"))
      .select(col("source"), col("x"), explode(expr(seedArr)).as("sd"))
      .groupBy(col("source"), col("sd.seed").as("seed"))
      .agg(min((col("sd.a") * col("x") + col("sd.b")) % MinHashFamily.p)
        .as("mh"))
    val l = sigs.select(col("source").as("src_a"), col("seed"),
      col("mh").as("mh_a"))
    val r = sigs.select(col("source").as("src_b"), col("seed"),
      col("mh").as("mh_b"))
    l.join(r, Seq("seed")).filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(sum(when(col("mh_a") === col("mh_b"), 1L).otherwise(0L))
        .as("n_match"))
      .withColumn("est_jaccard", round(col("n_match") / 16.0, 4))
      .orderBy(col("src_a"), col("src_b"))
  }

  private val t21Sql = {
    import graft.functions.MinHashFamily
    s"""WITH st AS (
       |  SELECT DISTINCT source, tok FROM (
       |    SELECT source, unnest(string_split(text, ' ')) AS tok
       |    FROM documents) e
       |  WHERE length(tok) > 0),
       |xs AS (
       |  SELECT source,
       |    ('0x' || substr(md5(tok), 1, 7))::BIGINT AS x
       |  FROM st),
       |sigs AS (
       |  SELECT source, seed, min((a * x + b) % ${MinHashFamily.p}) AS mh
       |  FROM xs, (VALUES ${MinHashFamily.duckSeedRows(16)}) seeds(seed, a, b)
       |  GROUP BY source, seed)
       |SELECT l.source AS src_a, r.source AS src_b,
       |  CAST(sum(CASE WHEN l.mh = r.mh THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_match,
       |  round(sum(CASE WHEN l.mh = r.mh THEN 1 ELSE 0 END) / 16.0, 4)
       |    AS est_jaccard
       |FROM sigs l JOIN sigs r ON l.seed = r.seed AND l.source < r.source
       |GROUP BY l.source, r.source
       |ORDER BY src_a, src_b""".stripMargin
  }

  /** Zipf-law fit per source: least-squares slope of log-frequency vs
    * log-rank over the source's token distribution. Natural text slopes
    * near −1; templated/synthetic slices bend the curve, so the (slope,
    * fit-error) pair is a cheap generated-text / collapsed-source
    * detector — the rank-structure complement to t18's KL endpoint and
    * t19's growth curve.
    *
    * Scale: one (source, token) count aggregate (map-side combined,
    * vocab-bounded — the only corpus-sized pass), ranks from a window
    * partitioned BY SOURCE over vocab rows, and the closed-form slope
    * (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) from one tiny per-source
    * aggregate — regression without any iterative fitting. The ln sums
    * add |vocab| well-separated doubles; 4dp rounding sits ~12 orders
    * above summation-order noise (the t18 determinism argument). */
  private def t22(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("c").desc, col("tok"))
    val counted = t(s, dir).documentsSpread
      .select(col("source"), explode(Corpus.tokens()).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
      .withColumn("x", log(row_number().over(w).cast("double")))
      .withColumn("y", log(col("c").cast("double")))
    counted.groupBy(col("source"))
      .agg(count(lit(1)).as("n_vocab"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("source"), col("n_vocab"),
        round((col("n_vocab") * col("sxy") - col("sx") * col("sy"))
          / (col("n_vocab") * col("sxx") - col("sx") * col("sx")), 4)
          .as("zipf_slope"))
      .orderBy(col("source"))
  }

  private val t22Sql =
    """WITH st AS (
      |  SELECT source, tok, count(*) AS c FROM (
      |    SELECT source, unnest(string_split(text, ' ')) AS tok
      |    FROM documents) e
      |  WHERE length(tok) > 0
      |  GROUP BY source, tok),
      |pts AS (
      |  SELECT source,
      |    ln(CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY c DESC, tok) AS DOUBLE)) AS x,
      |    ln(CAST(c AS DOUBLE)) AS y
      |  FROM st)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_vocab,
      |  round((count(*) * sum(x * y) - sum(x) * sum(y))
      |    / (count(*) * sum(x * x) - sum(x) * sum(x)), 4) AS zipf_slope
      |FROM pts
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** Inverted-index shard build — the retrieval-side structure a RAG/search
    * deployment materializes next to t17's chunks: per (term, document),
    * the term frequency and the sorted 1-based position list (positions are
    * what phrase and proximity queries consume). Scoped to the 5 most
    * frequent terms so the declared artifact stays panel-sized; the
    * library shape is identical for the full vocabulary — every stage is
    * keyed by term or (term, doc), so shards scale horizontally with the
    * term-hash partitioning.
    *
    * Scale design: positions come from ONE posexplode pass (no window —
    * the token index is the generator's own ordinal); the panel is a
    * TakeOrdered top-5 broadcast into the probe join; the posting-list
    * gather is a keyed aggregate whose map-side partials collapse each
    * (term, doc) to one row before the shuffle. */
  private def t23(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir).documentsSpread
      .select(col("doc_id"),
        posexplode(Corpus.tokens()).as(Seq("pos", "tok")))
      .filter(length(col("tok")) > 0)
      .select(col("doc_id"), col("tok"), (col("pos") + 1).cast("long").as("pos"))
    val panel = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(5)
      .select(col("tok"))
    toks.join(broadcast(panel), "tok")
      .groupBy(col("tok"), col("doc_id"))
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("parr"))
      // CSV-serialized so the oracle hash-compares it (the driver's
      // column hasher can't digest list cells); consumers wanting the
      // array read `parr` from the library form
      .select(col("tok"), col("doc_id"), col("tf"),
        expr("array_join(transform(parr, x -> CAST(x AS STRING)), ',')")
          .as("positions"))
      .orderBy(col("tok"), col("doc_id"))
  }

  private val t23Sql =
    """WITH toks AS (
      |  SELECT doc_id, tok, CAST(pos AS BIGINT) AS pos FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
      |      generate_subscripts(string_split(text, ' '), 1) AS pos
      |    FROM documents) u
      |  WHERE length(tok) > 0),
      |panel AS (
      |  SELECT tok FROM (
      |    SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok) AS rk
      |    FROM toks GROUP BY tok) r
      |  WHERE rk <= 5)
      |SELECT t.tok, t.doc_id, CAST(count(*) AS BIGINT) AS tf,
      |  array_to_string(list_sort(list(t.pos)), ',') AS positions
      |FROM toks t JOIN panel p ON p.tok = t.tok
      |GROUP BY t.tok, t.doc_id
      |ORDER BY t.tok, t.doc_id""".stripMargin

  /** Declared surface for the distributed BPE trainer: the first 10 merge
    * rules learned from the corpus word-frequency table, in merge order
    * with their winning pair counts. Deterministic end-to-end (max-count
    * with lexicographic tie-breaks — BpeTrainerSpec proves the sequence
    * equals a naive in-memory BPE), and oracle-checkable: the 10-merge
    * loop unrolls into 10 CTE stages over the word-frequency table (see
    * [[t24Sql]]), so the driver hash-gates the full merge sequence.
    *
    * Scale: the corpus is touched ONCE (word-freq aggregate, rows =
    * vocabulary); every merge round works on the vocabulary-bounded word
    * table with map-side re-segment folds and lineage checkpoints
    * (BpeTrainer Scaladoc). The 10-row result is driver-held by design —
    * a tokenizer vocabulary IS a driver artifact. */
  private def t24(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wf = t(s, dir).documentsSpread
      .select(explode(Corpus.tokens()).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    BpeTrainer.train(wf, nMerges = 10).zipWithIndex
      .map { case (m, i) => (i.toLong + 1L, m.left, m.right, m.count) }
      .toDF("merge_rank", "left", "right", "pair_count")
  }

  /** DuckDB twin of the 10-merge BPE training loop, fully unrolled: each
    * stage argmaxes the weighted pair count (ties by (l, r), matching the
    * trainer) and re-segments by a single `replace`. Words are encoded as
    * strings with every symbol wrapped in chr(31) markers
    * (`␟sym␟␟sym␟…`): chr(31) is below the corpus alphabet (lowercase +
    * space, and symbols never contain the space we split on), so the
    * wrapped encoding makes `replace(w, ␟l␟␟r␟, ␟lr␟)` EXACTLY the BPE
    * within-iteration rule — replace scans left-to-right over
    * non-overlapping occurrences, and per-symbol wrappers mean adjacent
    * matches never share boundary bytes. Validated against a naive
    * in-memory BPE at sf0.001/0.01/0.1 before wiring. */
  /** Shared unrolled-BPE CTE block for t24Sql (training — merges out)
    * and t29Sql (encoding — segmented vocabulary out): 10 stages over
    * the chr(31)-wrapped word table, each argmaxing the weighted pair
    * count with (l, r) tie-breaks. ONE generator for both oracles so the
    * training and encoding twins cannot drift ("the oracle re-derives
    * the merges itself" only certifies anything if both derive them the
    * same way). Mirrors BpeTrainer.train's STOP rule exactly: `m$$k`
    * keeps only pairs with n >= minCount (2), and `words$$k` LEFT-joins
    * the possibly-empty pick so a dried-up vocabulary passes through
    * unmerged instead of vanishing in a comma-join with an empty CTE —
    * on a tiny corpus the trainer returns < 10 merges and the unrolled
    * stages after the stop are all empty, matching. `carryWord` threads
    * the original word column through for the encoding twin. */
  private def bpeUnrolledCtes(carryWord: Boolean): String = {
    val S = "chr(31)"
    val wordSel = if (carryWord) "s.word, " else ""
    val wordHead = if (carryWord) "word, " else ""
    def stage(k: Int): String =
      s"""pairs$k AS (
         |  SELECT syms[i] AS l, syms[i+1] AS r, sum(freq) AS n
         |  FROM (SELECT string_split(trim(w, chr(31)), $S || $S) AS syms,
         |      freq,
         |      unnest(generate_series(1,
         |        len(string_split(trim(w, chr(31)), $S || $S)) - 1)) AS i
         |    FROM words${k - 1}) px
         |  GROUP BY 1, 2),
         |m$k AS (SELECT l, r, n FROM pairs$k WHERE n >= 2
         |  ORDER BY n DESC, l, r LIMIT 1),
         |words$k AS (
         |  SELECT ${wordSel}CASE WHEN m.l IS NULL THEN s.w
         |    ELSE replace(s.w, $S || m.l || $S || $S || m.r || $S,
         |      $S || m.l || m.r || $S) END AS w, s.freq
         |  FROM words${k - 1} s LEFT JOIN m$k m ON TRUE)""".stripMargin
    val head =
      s"""WITH wf AS (
         |  SELECT word, count(*) AS freq FROM (
         |    SELECT unnest(string_split(text, ' ')) AS word
         |    FROM documents) u
         |  WHERE length(word) > 0 GROUP BY word),
         |words0 AS (
         |  SELECT ${wordHead}array_to_string(list_transform(
         |    generate_series(1, length(word)),
         |    i -> chr(31) || substr(word, i, 1) || chr(31)), '') AS w, freq
         |  FROM wf),""".stripMargin
    head + "\n" + (1 to 10).map(stage).mkString(",\n")
  }

  private val t24Sql: String = {
    val picks = (1 to 10).map(k =>
      s"""SELECT CAST($k AS BIGINT) AS merge_rank, l AS "left",""" +
        s""" r AS "right", CAST(n AS BIGINT) AS pair_count FROM m$k""")
      .mkString("\nUNION ALL\n")
    bpeUnrolledCtes(carryWord = false) +
      s"\nSELECT * FROM (\n$picks\n) ORDER BY merge_rank"
  }

  /** Flesch reading-ease readability — the classic shallow quality signal
    * beside t02's ratio score and t10/t13's surprisal bits (readability
    * grades prose complexity; training-mix reports bucket corpora by it).
    * All three inputs are regex-group counts on the raw text — words
    * ([A-Za-z]+ runs), sentences ([.!?]+ runs, floored at 1), syllables
    * (vowel-group runs, the standard heuristic) — each a single
    * codegen'd regexp_extract_all + size, identical across engines
    * (character classes only — no Java/RE2 dialect divergence). English
    * docs only (the formula is English-calibrated). One map-side pass,
    * no shuffle until the output sort; score and grade cut are exact
    * integer milli-points (see below), so the result is engine-stable. */
  private def t25(s: SparkSession, dir: String): DataFrame =
    t(s, dir).documentsSpread
      .filter(col("lang") === "en")
      .select(col("doc_id"),
        size(expr("regexp_extract_all(text, '[A-Za-z]+', 0)"))
          .cast("long").as("words"),
        greatest(lit(1L),
          size(expr("regexp_extract_all(text, '[.!?]+', 0)")).cast("long"))
          .as("sentences"),
        size(expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)"))
          .cast("long").as("syllables"))
      .filter(col("words") > 0L)
      // exact milli-points: F·1000 = (206835·S·W − 1015·W² − 84600·Sy·S)
      // / (S·W); integer truncating division is identical across engines
      // (skill-verified), so no float ever enters the score or the grade
      // cut — the a14/a20 determinism discipline.
      .withColumn("flesch_milli", expr(
        """(206835L * sentences * words - 1015L * words * words
          |  - 84600L * syllables * sentences) div (sentences * words)"""
          .stripMargin))
      .withColumn("grade",
        when(col("flesch_milli") >= 70000L, "easy")
          .when(col("flesch_milli") >= 50000L, "standard")
          .otherwise("difficult"))
      .orderBy(col("doc_id"))

  private val t25Sql =
    """SELECT doc_id, words, sentences, syllables,
      |  (206835 * sentences * words - 1015 * words * words
      |    - 84600 * syllables * sentences) // (sentences * words)
      |    AS flesch_milli,
      |  CASE
      |    WHEN (206835 * sentences * words - 1015 * words * words
      |      - 84600 * syllables * sentences) // (sentences * words) >= 70000
      |      THEN 'easy'
      |    WHEN (206835 * sentences * words - 1015 * words * words
      |      - 84600 * syllables * sentences) // (sentences * words) >= 50000
      |      THEN 'standard'
      |    ELSE 'difficult' END AS grade
      |FROM (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT)
      |      AS words,
      |    greatest(CAST(1 AS BIGINT),
      |      CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
      |      AS sentences,
      |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
      |      AS syllables
      |  FROM documents WHERE lang = 'en')
      |WHERE words > 0
      |ORDER BY doc_id""".stripMargin

  /** Unicode-script mixing audit — the multilingual-corpus hygiene check:
    * per-doc codepoint counts by script class (Latin letters, CJK unified
    * ideographs, ASCII digits), the dominant share in permille, and a
    * mixed-script flag (two scripts each above 10%) — the signature of
    * encoding corruption, spam keyword-stuffing, or mislabeled language
    * fields (a `lang='en'` doc that is 40% CJK is a labeling bug). Counts
    * are length-difference after class deletion — one regexp_replace per
    * class, every decision integer-exact. The char-class semantics are
    * identical across engines; only the escape SPELLING differs (Java
    * `\uXXXX` vs RE2 `\x{XXXX}`). Map-side only, shuffle-free to the
    * output sort. */
  private def t26(s: SparkSession, dir: String): DataFrame =
    t(s, dir).documentsSpread
      .select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("n_chars_u"),
        (length(col("text")) - length(regexp_replace(col("text"),
          lit("[A-Za-z]"), lit("")))).cast("long").as("latin"),
        (length(col("text")) - length(regexp_replace(col("text"),
          lit("[一-鿿]"), lit("")))).cast("long").as("cjk"),
        (length(col("text")) - length(regexp_replace(col("text"),
          lit("[0-9]"), lit("")))).cast("long").as("digits"))
      .filter(col("n_chars_u") > 0L)
      .withColumn("dominant_permille",
        expr("greatest(latin, cjk) * 1000 div n_chars_u"))
      .withColumn("mixed_script",
        col("latin") * 10 > col("n_chars_u")
          && col("cjk") * 10 > col("n_chars_u"))
      .orderBy(col("doc_id"))

  private val t26Sql =
    """SELECT doc_id, lang,
      |  CAST(length(text) AS BIGINT) AS n_chars_u,
      |  CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
      |    AS BIGINT) AS latin,
      |  CAST(length(text)
      |    - length(regexp_replace(text, '[\x{4E00}-\x{9FFF}]', '', 'g'))
      |    AS BIGINT) AS cjk,
      |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
      |    AS BIGINT) AS digits,
      |  greatest(
      |    length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')),
      |    length(text)
      |      - length(regexp_replace(text, '[\x{4E00}-\x{9FFF}]', '', 'g')))
      |    * 1000 // length(text) AS dominant_permille,
      |  (length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')))
      |    * 10 > length(text)
      |  AND (length(text)
      |    - length(regexp_replace(text, '[\x{4E00}-\x{9FFF}]', '', 'g')))
      |    * 10 > length(text) AS mixed_script
      |FROM documents
      |WHERE length(text) > 0
      |ORDER BY doc_id""".stripMargin

  /** PMI collocation extraction — the association-strength ranking t05's
    * raw bigram counts can't give (frequent pairs of frequent words score
    * LOW; "san francisco"-style bound pairs score HIGH): pointwise mutual
    * information log2(N·c(ab)/(c(a)·c(b))), in t10's integer floor-log2
    * discipline. For a rational q = num/den ≥ 1, floor(log2 q) =
    * bits(num div den) (provable: the integer part of q shares q's
    * leading power of two), so the score is two BIGINT products, one
    * truncating division, and a binary-string length — bit-exact in any
    * engine, within 1 bit of true PMI, which is all a collocation ranker
    * needs. Negative-PMI pairs (num < den) are dropped — standard
    * positive-PMI practice, and it keeps the log in integer range.
    *
    * Scale: unigram and bigram counts are each ONE map-side-combined
    * aggregate (rows = vocabulary / bigram-vocabulary, not corpus); the
    * two count lookups are vocabulary-keyed equi-joins (broadcast when
    * the vocab fits); min-count 5 prunes the bigram tail before any
    * join. Top-20 is TakeOrderedAndProject. No pairwise stage. */
  private def t27(s: SparkSession, dir: String): DataFrame = {
    val docs = Corpus.tokenized(t(s, dir).documentsSpread)
    val uni = docs
      .select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val total = uni.agg(sum(col("c")).as("n_total"))
    val bi = docs
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        """transform(sequence(0, size(toks) - 2),
          |  i -> struct(toks[i] as w1, toks[i+1] as w2))""".stripMargin))
        .as("p"))
      .select(col("p.w1"), col("p.w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= 5)
    bi.join(uni.select(col("w").as("w1"), col("c").as("ca")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("cb")), "w2")
      .crossJoin(broadcast(total))
      .withColumn("num", col("cab") * col("n_total"))
      .withColumn("den", col("ca") * col("cb"))
      .filter(col("num") >= col("den"))
      .withColumn("pmi_bits",
        (length(expr("bin(num div den)")) - 1).cast("long"))
      .select(col("w1"), col("w2"), col("cab"), col("ca"), col("cb"),
        col("pmi_bits"))
      .orderBy(col("pmi_bits").desc, col("cab").desc, col("w1"), col("w2"))
      .limit(20)
  }

  private val t27Sql =
    """WITH docs AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |uni AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
      |    SELECT unnest(toks) AS w FROM docs) GROUP BY w),
      |total AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM uni),
      |bi AS (
      |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cab FROM (
      |    SELECT toks[CAST(i AS INT)] AS w1, toks[CAST(i AS INT) + 1] AS w2
      |    FROM docs, unnest(range(1, len(toks))) AS t(i)
      |    WHERE len(toks) >= 2)
      |  GROUP BY w1, w2 HAVING count(*) >= 5),
      |scored AS (
      |  SELECT b.w1, b.w2, b.cab, ua.c AS ca, ub.c AS cb,
      |    b.cab * t.n_total AS num, ua.c * ub.c AS den
      |  FROM bi b
      |  JOIN uni ua ON ua.w = b.w1
      |  JOIN uni ub ON ub.w = b.w2
      |  CROSS JOIN total t)
      |SELECT w1, w2, cab, ca, cb,
      |  CAST(length(bin(num // den)) - 1 AS BIGINT) AS pmi_bits
      |FROM scored
      |WHERE num >= den
      |ORDER BY pmi_bits DESC, cab DESC, w1, w2
      |LIMIT 20""".stripMargin

  /** Tokenizer-fertility audit by language — the multilingual-efficiency
    * report (fertility = subword tokens per word; a tokenizer trained on
    * English typically fragments other scripts into 2-3× the tokens,
    * silently taxing their context budget and training share — this
    * table is how that tax is measured and the mixture re-weighted):
    * per language, words (whitespace), subword-proxy tokens (t01's
    * alnum-run regex, the BPE-input units), chars, and the two ratios
    * in exact integer permille. One map-side-combined aggregate to
    * |languages| rows; every ratio a truncating division. */
  private def t28(s: SparkSession, dir: String): DataFrame =
    t(s, dir).documentsSpread
      .select(col("lang"),
        size(Corpus.tokens()).cast("long").as("words"),
        size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).cast("long")
          .as("subtoks"),
        length(col("text")).cast("long").as("chars"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("words")).as("words"),
        sum(col("subtoks")).as("subword_tokens"),
        sum(col("chars")).as("chars"))
      .select(col("lang"), col("n_docs"), col("words"),
        col("subword_tokens"), col("chars"),
        expr("subword_tokens * 1000 div words").as("fertility_permille"),
        expr("chars * 1000 div greatest(subword_tokens, 1)")
          .as("chars_per_token_permille"))
      .orderBy(col("lang"))

  private val t28Sql =
    """WITH d AS (
      |  SELECT lang,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
      |    CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT)
      |      AS subtoks,
      |    CAST(length(text) AS BIGINT) AS chars
      |  FROM documents)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(words) AS BIGINT) AS words,
      |  CAST(sum(subtoks) AS BIGINT) AS subword_tokens,
      |  CAST(sum(chars) AS BIGINT) AS chars,
      |  CAST(sum(subtoks) * 1000 // sum(words) AS BIGINT)
      |    AS fertility_permille,
      |  CAST(sum(chars) * 1000 // greatest(sum(subtoks), 1) AS BIGINT)
      |    AS chars_per_token_permille
      |FROM d GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** BPE ENCODE — the loop closure t24 leaves open: t24 certifies the
    * TRAINING picks; this query certifies APPLYING the trained
    * tokenizer to the corpus (the "tokenize 100 TB with the learned
    * merges" production step, [[BpeTrainer.segment]]). Train the same
    * 10 merges, then segment every vocabulary word map-side (one
    * codegen'd fold per merge per word — no shuffle beyond the word
    * frequency aggregate and the output sort) and emit each word's
    * token count and segmentation. The DuckDB twin re-derives the
    * merges itself through t24's unrolled CTE stages (word column
    * carried through) — so a trainer/segmenter disagreement on ANY
    * word breaks the hash match. Scale: vocabulary-bounded rows; the
    * per-document fertility view is a broadcast join of this table
    * against exploded docs (t28's shape). */
  private def t29(s: SparkSession, dir: String): DataFrame = {
    val wf = t(s, dir).documentsSpread
      .select(explode(Corpus.tokens()).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    val merges = BpeTrainer.train(wf, nMerges = 10)
    BpeTrainer.segment(wf, merges)
      .select(col("word"), col("freq").cast("long").as("freq"),
        size(col("syms")).cast("long").as("n_tokens"),
        concat_ws("|", col("syms")).as("segmented"))
      .orderBy(col("word"))
  }

  private val t29Sql: String = {
    val S = "chr(31)"
    bpeUnrolledCtes(carryWord = true) +
      s"""
         |SELECT word, CAST(freq AS BIGINT) AS freq,
         |  CAST(len(string_split(trim(w, chr(31)), $S || $S)) AS BIGINT)
         |    AS n_tokens,
         |  array_to_string(string_split(trim(w, chr(31)), $S || $S), '|')
         |    AS segmented
         |FROM words10
         |ORDER BY word""".stripMargin
  }

  val defs: Seq[(String, QueryDef)] = Seq(
    "t01_token_count" -> QueryDef(t01, Some(t01Sql)),
    "t02_quality_score" -> QueryDef(t02, Some(t02Sql), headline = true),
    "t03_lang_id" -> QueryDef(t03, Some(t03Sql)),
    "t04_fingerprint" -> QueryDef(t04, Some(t04Sql), headline = true),
    "t05_top_bigrams" -> QueryDef(t05, Some(t05Sql)),
    "t06_pii_scrub" -> QueryDef(t06, Some(t06Sql)),
    "t07_repetition_ratio" -> QueryDef(t07, Some(t07Sql)),
    "t08_contamination" -> QueryDef(t08, Some(t08Sql)),
    "t09_boilerplate_scrub" -> QueryDef(t09, Some(t09Sql)),
    "t10_unigram_surprisal" -> QueryDef(t10, Some(t10Sql)),
    "t11_char_entropy" -> QueryDef(t11, Some(t11Sql)),
    "t12_tfidf_keywords" -> QueryDef(t12, Some(t12Sql)),
    "t13_bigram_surprisal" -> QueryDef(t13, Some(t13Sql)),
    "t14_contamination_pairs" -> QueryDef(t14, Some(t14Sql)),
    "t15_gram_novelty" -> QueryDef(t15, Some(t15Sql)),
    "t16_quality_classifier" -> QueryDef(t16, Some(t16Sql)),
    "t17_rag_chunking" -> QueryDef(t17, Some(t17Sql)),
    "t18_source_divergence" -> QueryDef(t18, Some(t18Sql)),
    "t19_vocab_growth" -> QueryDef(t19, Some(t19Sql)),
    "t20_bpe_pairs" -> QueryDef(t20, Some(t20Sql)),
    "t21_source_similarity" -> QueryDef(t21, Some(t21Sql)),
    "t22_zipf_slope" -> QueryDef(t22, Some(t22Sql)),
    "t23_posting_lists" -> QueryDef(t23, Some(t23Sql)),
    "t24_bpe_vocab" -> QueryDef(t24, Some(t24Sql)),
    "t25_flesch_readability" -> QueryDef(t25, Some(t25Sql)),
    "t26_script_mixing" -> QueryDef(t26, Some(t26Sql)),
    "t27_pmi_collocations" -> QueryDef(t27, Some(t27Sql)),
    "t28_tokenizer_fertility" -> QueryDef(t28, Some(t28Sql)),
    // round-8: BPE ENCODE (apply the trained merges to the vocabulary —
    // closes t24's train-only loop; oracle re-derives the merges itself)
    "t29_bpe_encode" -> QueryDef(t29, Some(t29Sql)),
  )
}
