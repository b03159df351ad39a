package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** THE word-5-gram xxhash64 relation — single source for every
  * contamination/novelty operator that detects (t08, t14, t15) or scrubs
  * (p05, p08, p21) by 5-gram overlap. One definition so detection and
  * decontamination cannot silently disagree about what a "gram" is (each
  * query is oracle-gated only against its own twin, so a fork here would
  * change one operator's behavior without any red gate). Docs with
  * < 5 tokens have no gram and are dropped — the callers that must
  * report them anyway re-join against the full corpus. */
object ContaminationGrams {

  private val gramArray =
    """array_distinct(transform(sequence(0, size(toks) - 5),
      |  i -> xxhash64(concat_ws(' ', toks[i], toks[i+1], toks[i+2],
      |    toks[i+3], toks[i+4]))))""".stripMargin

  /** DuckDB: CTE `name(doc_id, gram)` with every document's distinct
    * word-5-gram strings — the oracle twin of [[perDoc]]/[[exploded]]
    * (strings where the Spark side hashes them). */
  def duckGramRows(name: String): String =
    s"""$name AS (
       |  SELECT DISTINCT doc_id, gram FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(w) - 3),
       |      i -> concat(w[CAST(i AS INT)], ' ', w[CAST(i AS INT) + 1], ' ',
       |        w[CAST(i AS INT) + 2], ' ', w[CAST(i AS INT) + 3], ' ',
       |        w[CAST(i AS INT) + 4]))) AS gram
       |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t
       |    WHERE len(w) >= 5) u)""".stripMargin

  /** THE <5-token gate — docs with no gram are dropped here, once. */
  private def gated(toksDocs: DataFrame): DataFrame =
    toksDocs.filter(size(col("toks")) >= 5)

  /** Per-doc form: (doc_id, keep..., ghashes) with the distinct 5-gram
    * hash array — the map-side shape (p08/p21's bloom/exact probes,
    * t15's novelty) where the array never explodes. */
  def perDoc(docs: DataFrame, keep: Seq[String] = Nil): DataFrame =
    gated(Corpus.tokenized(docs))
      .withColumn("ghashes", expr(gramArray))
      .select((Seq("doc_id") ++ keep ++ Seq("ghashes")).map(col): _*)

  /** Exploded form: one (doc_id, g) row per distinct gram hash — the
    * join shape (t08/t14's detection, p05's scrub). The gram expression
    * feeds the generator INLINE (never through an aliased column):
    * with an alias, InferFiltersFromGenerate infers `size(g) > 0 AND
    * isnotnull(g)` on the attribute, PushDownPredicates substitutes the
    * whole gram-hash transform into that filter and pushes it below the
    * spread repartition — the 5-gram hashing then runs two EXTRA times
    * serialized on the pre-shuffle scan task (measured ~6x on this
    * shape; the round-8 explode trap). */
  def exploded(docs: DataFrame): DataFrame =
    explodedFromToks(Corpus.tokenized(docs))

  /** [[exploded]] over a frame that ALREADY carries
    * `toks = split(text, ' ')` — the shared-scan shape (p05 caches one
    * scan+spread+tokenize subtree and feeds it to both this and the
    * quality/curation branch). The caller's toks column MUST be the
    * [[Corpus.tokenized]] spelling, so the tokenizer cannot fork. */
  def explodedFromToks(toksDocs: DataFrame): DataFrame =
    gated(toksDocs)
      .select(col("doc_id"), explode(expr(gramArray)).as("g"))
}
