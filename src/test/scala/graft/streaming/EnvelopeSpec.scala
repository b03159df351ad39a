package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Envelope schema contract: which columns a producer may omit. */
class EnvelopeSpec extends SparkSuite {

  test("withOptionalColumns adds ONLY the retry-extension fields; a frame " +
      "missing a Kafka-source column is left incomplete (fails fast at " +
      "append, no silent typed-null value/key)") {
    val sess = spark
    import sess.implicits._
    val full = Seq(("k", "v")).toDF("k", "v").select(
      col("k").cast("binary").as("key"),
      col("v").cast("binary").as("value"),
      lit("t").as("topic"), lit(0).as("partition"), lit(0L).as("offset"),
      current_timestamp().as("timestamp"), lit("e").as("topicEntity"))
    val widened = Envelope.withOptionalColumns(full)
    assert(widened.columns.toSet ==
      Set("key", "value", "topic", "partition", "offset", "timestamp",
        "topicEntity", "retryCount", "nextAttemptAt", "channel", "headers"))

    // drop `value`: the optional-column pass must NOT paper over it
    val missingValue = full.drop("value")
    assert(!Envelope.withOptionalColumns(missingValue)
      .columns.contains("value"),
      "a missing Kafka-source column must stay missing")
  }

  test("withOptionalColumns matches presence by the session's resolution " +
      "rules: a case-variant `retrycount` under the default " +
      "case-insensitive analysis is PRESENT — the exact-case contains() " +
      "let withColumn REPLACE it with a typed null, erasing retry state " +
      "so every hop restarted the full budget (the sinkProjection bug, " +
      "unfixed on the file-transport path)") {
    val sess = spark
    import sess.implicits._
    val frame = Seq(("k", "v")).toDF("k", "v").select(
      col("k").cast("binary").as("key"),
      col("v").cast("binary").as("value"),
      lit("t").as("topic"), lit(0).as("partition"), lit(0L).as("offset"),
      current_timestamp().as("timestamp"), lit("e").as("topicEntity"),
      lit(2).as("retrycount")) // case variant, carrying live state
    val widened = Envelope.withOptionalColumns(frame)
    // col() resolves case-insensitively here — the state must survive
    assert(widened.select(col("retryCount")).head.getInt(0) == 2,
      "case-variant retry state must be preserved, not nulled")

    // BOTH variants present is genuinely ambiguous — fail loudly
    val both = sess.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(1, 2)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("retryCount",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("retrycount",
          org.apache.spark.sql.types.IntegerType))))
    val e = intercept[IllegalArgumentException](
      Envelope.withOptionalColumns(both))
    assert(e.getMessage.contains("ambiguous producer frame"), e.getMessage)
  }

  test("one presence rule for the optional envelope columns: the file " +
      "transport and the Kafka sink projection keep, null or reject the " +
      "same frames under both case modes (a lone case variant keeps its " +
      "retry state; several variants with no exact name fail)") {
    val cs = spark.newSession()
    cs.conf.set("spark.sql.caseSensitive", "true")
    val kafka = new KafkaTopicIO("b1:9092")
    val files = new FileTopicIO(tmpDir("presence"))
    val ambiguous = Left("ambiguous")
    // (case-sensitive session?, retry-state columns in frame order,
    // the retry count both transports must carry)
    val table = Seq(
      (false, Seq("retryCount" -> 4), Right(Some(4))),
      (false, Seq("retrycount" -> 4), Right(Some(4))),
      (false, Seq("retryCount" -> 4, "retrycount" -> 9), ambiguous),
      (false, Nil, Right(None)),
      (true, Seq("retryCount" -> 4), Right(Some(4))),
      (true, Seq("retrycount" -> 4), Right(Some(4))),
      (true, Seq("retrycount" -> 9, "retryCount" -> 4), Right(Some(4))),
      (true, Seq("RETRYCOUNT" -> 9, "retrycount" -> 4), ambiguous),
      (true, Nil, Right(None)))
    table.zipWithIndex.foreach { case ((sensitive, state, want), i) =>
      val sess = if (sensitive) cs else spark
      val frame = sess.range(1).select(Seq(
        lit("k".getBytes).as("key"), lit("v".getBytes).as("value"),
        lit("t").as("topic"), lit(0).as("partition"), lit(0L).as("offset"),
        current_timestamp().as("timestamp"), lit("e").as("topicEntity")) ++
        state.map { case (n, v) => lit(v).as(n) }: _*)
      def outcome(carried: => Option[Int]) =
        try Right(carried)
        catch {
          case e: IllegalArgumentException
              if e.getMessage.contains("ambiguous producer frame") =>
            ambiguous
        }
      val viaKafka = outcome(kafka.sinkProjection(frame).select("headers")
        .head().getSeq[org.apache.spark.sql.Row](0).collectFirst {
          case h if h.getString(0) == "graft.retryCount" =>
            new String(h.getAs[Array[Byte]](1), "UTF-8").toInt
        })
      val viaFile = outcome {
        files.append(frame, s"t$i")
        Option(files.read(sess, s"t$i").select("retryCount").head()
          .getAs[Integer](0)).map(_.intValue)
      }
      assert(viaKafka == want, s"Kafka sink, row $i $state: $viaKafka")
      assert(viaFile == want, s"file transport, row $i $state: $viaFile")
    }
  }

  test("file-transport pacing scales with the record budget: " +
      "maxFilesPerTrigger ≈ records / 500 (a file ≈ one poll batch at " +
      "Kafka's default max.poll.records) — scaleRoute's budget lever was " +
      "a silent no-op when every budget mapped to 1 file") {
    val io = new FileTopicIO(tmpDir("pace"))
    assert(io.paceOptions(1) == Map("maxFilesPerTrigger" -> "1"))
    assert(io.paceOptions(500) == Map("maxFilesPerTrigger" -> "1"),
      "S3 pacing semantics: the default budget keeps one file per trigger")
    assert(io.paceOptions(5000) == Map("maxFilesPerTrigger" -> "10"))
  }
}
