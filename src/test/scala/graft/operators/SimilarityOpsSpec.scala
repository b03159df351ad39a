package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** k-means assignment edge cases the oracle cannot reach (its centroids
  * always come from a non-empty corpus). */
class SimilarityOpsSpec extends SparkSuite {

  test("an empty centroid frame assigns no rows — it must not argmin " +
      "every vector into a NULL cid") {
    val sess = spark
    import sess.implicits._
    val emb = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)), (3L, Seq(1.0, 1.0)))
      .toDF("vec_id", "vd")
      .withColumn("nrm", sqrt(aggregate(col("vd"), lit(0.0),
        (acc, x) => acc + x * x)))
    val cents = emb.select(col("vec_id").as("cid"), col("vd").as("cv"),
      col("nrm").as("cn"))
    assert(SimilarityOps.assignNearest(emb, cents.limit(0)).count() == 0)
    val one = SimilarityOps.assignNearest(emb, cents.filter(col("cid") === 1L))
      .select("vec_id", "cid").as[(Long, Long)].collect().toSeq.sorted
    assert(one == Seq((1L, 1L), (2L, 1L), (3L, 1L)))
  }
}
