package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** THE quality scorer (t02's formula) — single source for every pipeline
  * stage that gates, packs, buckets, or reports by quality
  * (t02, p01, p02, p04, p06, p12, x08): length factor × stopword
  * penalty, transcendental-free so bit-portable across engines.
  * One definition so no two stages can silently rank by forked scores;
  * the DuckDB fragments below are the same single source for the SQL
  * twins. */
object QualityScore {

  /** [[Corpus.tokenized]] — the tokenizer every scorer uses. */
  def tokenize(df: DataFrame): DataFrame = Corpus.tokenized(df)

  /** Spark side: adds `toks`, `n_tokens`, `n_stop`, and the score column
    * (rounded to 4 dp) to any frame with a `text` column. */
  def scored(df: DataFrame, scoreCol: String = "quality_score"): DataFrame =
    scoredFromToks(tokenize(df), scoreCol)

  /** [[scored]] over a frame that ALREADY carries `toks` (the
    * [[tokenize]] spelling) — the shared-scan shape. */
  def scoredFromToks(df: DataFrame, scoreCol: String = "quality_score")
      : DataFrame =
    df.withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_stop", size(expr(
        s"filter(toks, x -> x IN $stopList)")).cast("long"))
      .withColumn(scoreCol,
        round(greatest(lit(0.0), lit(1.0) - col("n_stop") * 2.0
          / col("n_tokens").cast("double"))
          * least(lit(1.0), col("n_tokens") / 100.0), 4))

  /** The demo stopword list (both engines' IN-list syntax). */
  val stopList: String = "('the', 'a', 'big', 'small', 'fast', 'slow')"

  /** DuckDB: the token list — MUST keep [[Corpus.tokens]]' delimiter
    * (a fork here silently diverges every SQL twin from the Spark
    * ranking, the exact drift this object exists to prevent). */
  val duckToks: String = "string_split(text, ' ')"

  /** DuckDB: n_tokens over [[duckToks]]. */
  val duckNTokens: String = s"CAST(len($duckToks) AS BIGINT)"

  /** DuckDB: n_stop over a `toks` list expression. */
  def duckNStop(toks: String): String =
    s"CAST(len(list_filter($toks, x -> x IN $stopList)) AS BIGINT)"

  /** DuckDB: the score over already-computed n_stop/n_tokens columns. */
  def duckScore(nStop: String = "n_stop", nTokens: String = "n_tokens")
      : String =
    s"round(greatest(0.0, 1.0 - $nStop * 2.0 / CAST($nTokens AS DOUBLE))" +
      s" * least(1.0, $nTokens / 100.0), 4)"
}
