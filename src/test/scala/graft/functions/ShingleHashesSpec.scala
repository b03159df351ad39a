package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** ShingleHashes must be bit-identical to the three-stage HOF spelling it
  * replaced in DedupOps.shingleHashArrays (d02/d15/d16/d20/d22 share that
  * oracle-gated front stage): same per-token seed-42 xxhash64, same
  * rotate-left 21/42 position combine, same first-occurrence dedup
  * order. */
class ShingleHashesSpec extends SparkSuite {

  private val oldSpelling =
    """array_distinct(transform(sequence(0, size(th) - 3), i ->
      |  th[i]
      |    ^ (shiftleft(th[i+1], 21) | shiftrightunsigned(th[i+1], 43))
      |    ^ (shiftleft(th[i+2], 42) | shiftrightunsigned(th[i+2], 22))))"""
      .stripMargin

  test("matches the retired transform/xxhash64/array_distinct chain " +
      "bit-for-bit, element order included (duplicate shingles force the " +
      "first-occurrence dedup path)") {
    val sess = spark
    import sess.implicits._
    val rnd = new scala.util.Random(7L)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val docs = (1 to 200).map { i =>
      val n = rnd.nextInt(40)
      // tiny vocab → plenty of repeated trigrams exercising the dedup
      (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))))
    }.toDF("doc_id", "toks").filter(size(col("toks")) >= 3)
    val old = docs
      .withColumn("th", expr("transform(toks, t -> xxhash64(t))"))
      .withColumn("shh", expr(oldSpelling))
      .select(col("doc_id"), col("shh"))
    val neu = docs
      .withColumn("shh", ShingleHashes.shingleHashes(col("toks")))
      .select(col("doc_id"), col("shh"))
    val a = old.orderBy("doc_id").collect()
    val b = neu.orderBy("doc_id").collect()
    assert(a.length == b.length && a.nonEmpty)
    a.zip(b).foreach { case (x, y) =>
      assert(x.getLong(0) == y.getLong(0))
      assert(x.getSeq[Long](1) == y.getSeq[Long](1),
        s"hash array mismatch at doc ${x.getLong(0)}")
    }
  }

  test("stays total below 3 tokens (empty array — the callers' " +
      "size >= 3 gate makes this unreachable there) and hashes a real " +
      "sentence to the exact xxhash64-combined values") {
    val sess = spark
    import sess.implicits._
    val df = Seq(
      (1L, Seq("one", "two")),
      (2L, Seq[String]()),
      (3L, Seq("the", "quick", "brown", "fox"))
    ).toDF("doc_id", "toks")
      .withColumn("shh", ShingleHashes.shingleHashes(col("toks")))
    val rows = df.orderBy("doc_id").collect()
    assert(rows(0).getSeq[Long](2).isEmpty)
    assert(rows(1).getSeq[Long](2).isEmpty)
    // cross-check the 2-shingle doc against the SQL spelling computed
    // inline (whole pipeline through Spark's own xxhash64)
    val want = Seq((3L, Seq("the", "quick", "brown", "fox")))
      .toDF("doc_id", "toks")
      .withColumn("th", expr("transform(toks, t -> xxhash64(t))"))
      .withColumn("shh", expr(oldSpelling))
      .select(col("shh")).head().getSeq[Long](0)
    assert(rows(2).getSeq[Long](2) == want && want.size == 2)
  }

  test("the dedup table's capacity fails loudly past the shingle bound " +
      "instead of overflowing 2m into a 4-slot table whose probe loop " +
      "never ends") {
    assert(ShingleHashes.capacity(0) == 4)
    assert(ShingleHashes.capacity(3) == 8)
    assert(ShingleHashes.capacity(ShingleHashes.MaxShingles) == (1 << 30))
    for (m <- Seq(ShingleHashes.MaxShingles + 1, 1 << 30, Int.MaxValue - 2)) {
      val e = intercept[IllegalArgumentException](ShingleHashes.capacity(m))
      assert(e.getMessage.contains("exceed the bound"), e.getMessage)
    }
  }
}
