package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The corpus front end every text operator shares: the tokenizer, the
  * token-count gate, the word n-gram arrays and the 4×4 LSH band rows.
  * One definition, so no two operators (nor a query and its
  * ground-truth or candidate twin) can fork on what a token, a gram or
  * a band is. The DuckDB twins spell the same tokenizer as
  * [[QualityScore.duckToks]]. */
private[graft] object Corpus {

  /** THE tokenizer: a text column split on single spaces. */
  def tokens(textCol: String = "text"): Column = split(col(textCol), " ")

  /** `docs` plus the [[tokens]] column `toks`. */
  def tokenized(docs: DataFrame): DataFrame =
    docs.withColumn("toks", tokens())

  /** [[tokenized]], keeping documents of at least `minToks` tokens — the
    * guard every n-gram builder needs, because Spark's
    * `sequence(0, size(toks) - n)` counts DOWN when a document is
    * shorter than n. */
  def tokenized(docs: DataFrame, minToks: Int): DataFrame =
    tokenized(docs).filter(size(col("toks")) >= minToks)

  /** The word n-grams of `toks` in order, as Spark SQL:
    * `transform(sequence(0, size(toks) - n), i -> concat_ws(' ', toks[i],
    * …, toks[i+n-1]))`. It stays SQL text because the Column-API
    * `transform` names its lambda variable differently, which would
    * change every plan that holds it. Needs `size(toks) >= n`. */
  private def ngramSql(n: Int): String = {
    val words = (0 until n)
      .map(j => if (j == 0) "toks[i]" else s"toks[i+$j]").mkString(", ")
    s"transform(sequence(0, size(toks) - $n), i -> concat_ws(' ', $words))"
  }

  /** The word `n`-grams of `toks`, duplicates kept. Feed it to a
    * generator inline, not through an aliased column: an alias lets
    * InferFiltersFromGenerate + PushDownPredicates copy the whole
    * transform into a filter below the spread repartition, where it
    * runs serialized on the scan task (measured ~6x on d28's panel). */
  def ngrams(n: Int): Column = expr(ngramSql(n))

  /** The distinct word `n`-grams of `toks` (a per-document set). */
  def distinctNgrams(n: Int): Column = array_distinct(ngrams(n))

  /** (doc_id, band, bsig): the 4×4 LSH band rows of a frame carrying a
    * 16-wide minhash `sigs` column — band b's signature joins
    * `sigs[4b .. 4b+3]` with '-'. Map-side only: one in-row explode. */
  def bands(sigDocs: DataFrame): DataFrame =
    sigDocs.select(col("doc_id"), explode(array(
      (0 until 4).map(b => struct(lit(b).as("band"),
        concat_ws("-", (0 until 4).map(r => col("sigs").getItem(b * 4 + r)): _*)
          .as("bsig"))): _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"),
        col("bs.bsig").as("bsig"))
}
