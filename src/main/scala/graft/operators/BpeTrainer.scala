package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding tokenizer training — the iterated form of
  * [[TextOps]]' t20 merge-candidate count (t20 is exactly one iteration of
  * this loop's counting stage).
  *
  * Semantics: classic BPE over SPACE-separated words (the single-space
  * delimiter the corpus and the unrolled DuckDB oracle CTEs both use —
  * t24Sql/t29Sql split with string_split(text, ' '), so the trainer
  * must not tokenize more aggressively than its oracle twin; a corpus
  * with tab/newline separators needs a matching pre-tokenizer on BOTH
  * sides) without an end-of-word marker. Each iteration counts adjacent symbol pairs weighted by word
  * frequency, merges the most frequent pair (ties broken lexicographically
  * on (left, right) so training is deterministic), and re-segments every
  * word by fusing that pair's non-overlapping occurrences left-to-right.
  *
  * Scale design (why BPE at 100 TB is one cheap loop):
  *  - The corpus is touched ONCE: `wordFrequencies` is a single map-side-
  *    combined aggregate whose output is the distinct vocabulary. Every
  *    training iteration after that runs on |vocab| rows — corpus size has
  *    left the cost model entirely.
  *  - Per iteration: one vocabulary-bounded pair-count aggregate, a 1-row
  *    argmax collect (the only driver traffic), and a map-side re-segment
  *    fold. No shuffle grows with the merge table.
  *  - The word frame is `localCheckpoint`ed every few iterations — the
  *    re-segment fold would otherwise nest one lambda per merge and the
  *    lineage would double the plan like d06's pre-checkpoint self-joins.
  *
  * Reference anchor: ziggurat has no text surface at all (SURVEY §2.6);
  * this is north-star extension work. Verified differentially against a
  * naive in-memory BPE in BpeTrainerSpec (same merges on every corpus).
  */
object BpeTrainer {

  /** One chosen merge: fuse (left, right) into left+right; `count` is the
    * weighted pair frequency that won the iteration. */
  final case class Merge(left: String, right: String, count: Long)

  /** Word-frequency table (word, freq) — the single corpus-sized pass. */
  def wordFrequencies(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(Corpus.tokens(textCol)).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** Train `nMerges` merges over a (word, freq) frame. Stops early if no
    * pair occurs at least `minCount` times. */
  def train(wordFreq: DataFrame, nMerges: Int,
      minCount: Long = 2L): Seq[Merge] = {
    var words = wordFreq
      // empty words must be DROPPED before the symbol expansion:
      // Spark's sequence(1, 0) counts DOWN to [1, 0] (not empty), so an
      // empty word became syms = ["", ""] — a phantom ("","") pair that
      // could win the argmax and corrupt the vocabulary with a bogus
      // empty-string merge. wordFrequencies filters these, but train()
      // accepts any (word, freq) frame.
      .filter(length(col("word")) > 0)
      .select(expr("transform(sequence(1, length(word)), " +
        "i -> substring(word, i, 1))").as("syms"), col("freq"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var iter = 0
    while (iter < nMerges) {
      val top = words
        .filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          """transform(sequence(0, size(syms) - 2),
            |  i -> struct(syms[i] AS l, syms[i + 1] AS r))""".stripMargin))
          .as("pr"))
        .groupBy(col("pr.l").as("l"), col("pr.r").as("r"))
        .agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1)
        .collect()
      if (top.isEmpty || top(0).getAs[Long]("n") < minCount) {
        iter = nMerges
      } else {
        val l = top(0).getAs[String]("l")
        val r = top(0).getAs[String]("r")
        merges += Merge(l, r, top(0).getAs[Long]("n"))
        // left-to-right non-overlapping fuse of (l, r): the fold fuses
        // whenever the accumulated tail is l and the next symbol is r.
        // A just-fused symbol is l+r, which can never equal l (r is
        // non-empty), so overlapping occurrences skip naturally —
        // exactly the standard BPE within-iteration rule.
        words = words.select(
          fuseExpr("syms", l, r).as("syms"), col("freq"))
        if ((iter + 1) % 4 == 0) words = words.localCheckpoint(true)
        iter += 1
      }
    }
    merges.toSeq
  }

  /** Segment a (word, freq)-shaped frame with a trained merge list —
    * map-side only; apply merges in training order. */
  def segment(wordFreq: DataFrame, merges: Seq[Merge]): DataFrame = {
    var words = wordFreq
      // same empty-word guard as train(): sequence(1, 0) = [1, 0], so
      // an empty word would segment into two fused "" symbols
      .filter(length(col("word")) > 0)
      .select(col("word"), expr("transform(sequence(1, length(word)), " +
        "i -> substring(word, i, 1))").as("syms"), col("freq"))
    merges.zipWithIndex.foreach { case (m, i) =>
      words = words.withColumn("syms", fuseExpr("syms", m.left, m.right))
      if ((i + 1) % 8 == 0) words = words.localCheckpoint(true)
    }
    words
  }

  /** Fuse left-to-right non-overlapping occurrences of (l, r) in the
    * symbol-array column — one codegen'd fold per row. */
  private def fuseExpr(symsCol: String, l: String, r: String)
      : org.apache.spark.sql.Column = {
    val lLit = literalSql(l)
    val rLit = literalSql(r)
    expr(
      s"""aggregate($symsCol, CAST(array() AS ARRAY<STRING>),
         |  (acc, s) -> IF(size(acc) > 0
         |        AND element_at(acc, -1) = $lLit AND s = $rLit,
         |      concat(slice(acc, 1, size(acc) - 1),
         |        array(concat($lLit, $rLit))),
         |      concat(acc, array(s))))""".stripMargin)
  }

  /** SQL string literal for a symbol (documents are alnum+space here, but
    * escape quotes/backslashes so arbitrary corpora are safe). */
  private def literalSql(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
}
