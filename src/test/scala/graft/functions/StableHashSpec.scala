package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** The JVM-side twins of the md5-prefix hashes must equal the SQL
  * expressions they mirror: [[MinHashFamily]] derives its coefficients
  * through `h60Jvm`. */
class StableHashSpec extends SparkSuite {

  test("h60Jvm matches the SQL h60 expression") {
    val sess = spark
    import sess.implicits._
    val inputs = Seq("abc", "0:the quick fox", "é中文")
    val fromSql = inputs.toDF("s").select(StableHash.h60(col("s")))
      .collect().map(_.getLong(0)).toSeq
    assert(fromSql == inputs.map(StableHash.h60Jvm))
  }
}
