package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.types._

/** Contract tests for the Kafka transport. The connector jar does not ship
  * in this container, so the wiring can't execute here — these pin what CAN
  * be asserted offline: the exact reader/writer option maps (an option-name
  * typo silently no-ops at runtime), the normalize() projection matching
  * the Envelope schema, headers passthrough in the sink projection, and the
  * pacing analogue. The cluster smoke procedure is documented in README.md
  * ("Kafka cluster smoke test"). */
class KafkaTopicIOSpec extends SparkSuite {

  private val sec = SecurityConfig(
    protocol = Some("SASL_SSL"),
    sslTruststoreLocation = Some("/etc/tls/trust.jks"),
    sslTruststorePassword = Some("ts-secret"),
    saslMechanism = Some("SCRAM-SHA-512"),
    saslJaasConfig = Some(SecurityConfig.plainJaas("svc", "pw")))
  private val io = new KafkaTopicIO("b1:9092,b2:9092", sec)

  test("reader options: exact map incl. regex subscription, headers, and " +
      "SASL/SSL passthrough (streams.clj:184 + config.clj:233-298 twins)") {
    assert(io.readerOptions("orders-events.*") == Map(
      "kafka.bootstrap.servers" -> "b1:9092,b2:9092",
      "subscribePattern" -> "orders-events.*",
      "startingOffsets" -> "earliest",
      "includeHeaders" -> "true",
      "kafka.security.protocol" -> "SASL_SSL",
      "kafka.ssl.truststore.location" -> "/etc/tls/trust.jks",
      "kafka.ssl.truststore.password" -> "ts-secret",
      "kafka.sasl.mechanism" -> "SCRAM-SHA-512",
      "kafka.sasl.jaas.config" -> SecurityConfig.plainJaas("svc", "pw")))
    // per-call options layer last (e.g. pacing can override earliest)
    val extra = io.readerOptions("t",
      Map("maxOffsetsPerTrigger" -> "500", "startingOffsets" -> "latest"))
    assert(extra("maxOffsetsPerTrigger") == "500")
    assert(extra("startingOffsets") == "latest")
    // an unsecured transport emits no security options at all
    assert(new KafkaTopicIO("b:9092").readerOptions("t") == Map(
      "kafka.bootstrap.servers" -> "b:9092",
      "subscribePattern" -> "t",
      "startingOffsets" -> "earliest",
      "includeHeaders" -> "true"))
  }

  test("exact subscription for derived topics: readerOptions(exact=true) " +
      "uses literal `subscribe`, never subscribePattern — " +
      "\"orders.v1_retry\" as a PATTERN also consumes \"orders2v1_retry\" " +
      "(cross-entity theft; dotted entities are a supported config shape)") {
    val opts = new KafkaTopicIO("b:9092")
      .readerOptions("orders.v1_retry", exact = true)
    assert(opts("subscribe") == "orders.v1_retry", opts)
    assert(!opts.contains("subscribePattern"), opts)
    // the default path keeps the documented regex subscription (S1)
    assert(new KafkaTopicIO("b:9092").readerOptions("o.*")
      .contains("subscribePattern"))
  }

  test("writer options: exact map; security options ride the sink too") {
    assert(io.writerOptions("app_retry") == Map(
      "kafka.bootstrap.servers" -> "b1:9092,b2:9092",
      "topic" -> "app_retry",
      "kafka.security.protocol" -> "SASL_SSL",
      "kafka.ssl.truststore.location" -> "/etc/tls/trust.jks",
      "kafka.ssl.truststore.password" -> "ts-secret",
      "kafka.sasl.mechanism" -> "SCRAM-SHA-512",
      "kafka.sasl.jaas.config" -> SecurityConfig.plainJaas("svc", "pw")))
  }

  test("routed writer: one sink write whose options carry NO fixed " +
      "`topic` (the sink then routes each row by its `topic` column), " +
      "over a projection that keeps only the targets' rows") {
    assert(io.routedWriterOptions == io.writerOptions("x") - "topic")
    assert(!io.routedWriterOptions.contains("topic"))
    val now = ts("2024-01-01 00:00:00")
    val routed = envelopes("app", Seq(("k1", "a", now), ("k2", "b", now),
        ("k3", "c", now), ("k4", "d", now)))
      .withColumn("retryCount", org.apache.spark.sql.functions.lit(2))
      .withColumn(Dispatch.TopicCol, org.apache.spark.sql.functions.expr(
        "CASE cast(value AS string) WHEN 'a' THEN 'app_retry' " +
          "WHEN 'b' THEN 'app_dead_letter' WHEN 'c' THEN 'app_other' END"))
    val wire = io.routedProjection(routed, Dispatch.TopicCol,
      Seq("app_retry", "app_dead_letter"))
    assert(wire.schema.fieldNames.toSeq == Seq("key", "value", "headers", "topic"))
    assert(wire.schema("topic").dataType == StringType)
    val rows = wire.selectExpr("cast(key as string)", "topic",
        "cast(filter(headers, h -> h.key = 'graft.retryCount')[0].value " +
          "as string)")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSeq.sorted
    assert(rows == Seq(("k1", "app_retry", "2"), ("k2", "app_dead_letter", "2")))
  }

  test("sinkProjection resolves retry-state columns by the FRAME's " +
      "session conf, not the thread-local SQLConf: on a non-Spark " +
      "thread (management pool → dead-set replay → append) the " +
      "thread-local lies about a caseSensitive=true session, and a " +
      "legal exact-case frame carrying BOTH retryCount and retrycount " +
      "failed 'ambiguous' instead of resolving (the Envelope." +
      "withOptionalColumns hardening, completed on the sink path)") {
    // a case-SENSITIVE child session owns the frame; the test thread's
    // inherited active session stays the suite's case-insensitive one —
    // exactly the lie SQLConf.get tells on a server pool thread
    val cs = spark.newSession()
    cs.conf.set("spark.sql.caseSensitive", "true")
    import org.apache.spark.sql.functions._
    val dual = cs.range(1).select(
      lit("k".getBytes).as("key"), lit("v".getBytes).as("value"),
      lit(9).as("retrycount"), lit(4).as("retryCount"))
    @volatile var result: Either[Throwable, String] = null
    val t = new Thread(() => {
      // no session is ACTIVE on a fresh pool thread; pin the suite's
      // case-insensitive one as active to make the thread-local's lie
      // deterministic rather than inheritance-dependent
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
      result =
        try {
          val hs = io.sinkProjection(dual)
            .select("headers").head().getSeq[org.apache.spark.sql.Row](0)
          Right(hs.collectFirst {
            case r if r.getString(0) == "graft.retryCount" =>
              new String(r.getAs[Array[Byte]](1), "UTF-8")
          }.getOrElse("missing"))
        } catch { case e: Throwable => Left(e) }
    })
    t.start(); t.join(60000)
    assert(result != null, "projection thread did not finish")
    assert(result == Right("4"),
      s"the frame's case-sensitive session must govern resolution " +
        s"(exact-case retryCount wins); got $result")
  }

  test("pacing: max-poll-records maps to maxOffsetsPerTrigger (S3)") {
    assert(io.paceOptions(500) == Map("maxOffsetsPerTrigger" -> "500"))
  }

  /** What `spark.readStream.format("kafka")` yields with includeHeaders. */
  private val kafkaSourceSchema = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType),
    StructField("headers", Envelope.headersType)))

  test("normalize(): a kafka-source-shaped frame projects to exactly the " +
      "Envelope schema (names + types, in order)") {
    val src = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      kafkaSourceSchema)
    val norm = io.normalize(src, "orders")
    assert(norm.schema.fields.map(f => f.name -> f.dataType).toSeq ==
      Envelope.schema.fields.map(f => f.name -> f.dataType).toSeq)
  }

  test("sink projection: key/value/headers always — the retry state rides " +
      "graft.* record headers (K2 header carry + the AMQP x-death " +
      "pattern); normalize restores it and strips graft.* from the " +
      "exposed headers") {
    val sess = spark
    import sess.implicits._
    import org.apache.spark.sql.functions._
    val withHeaders = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Envelope.schema)
    assert(io.sinkProjection(withHeaders).columns.toSeq ==
      Seq("key", "value", "headers"))
    assert(io.sinkProjection(withHeaders.drop("headers")).columns.toSeq ==
      Seq("key", "value", "headers"))

    // round trip: envelope with retry state + a user header → sink
    // projection → (simulated) Kafka source frame → normalize
    val next = java.sql.Timestamp.valueOf("2026-01-02 03:04:05.123456")
    val env = Seq(1).toDF("i").select(
      lit("k".getBytes).as("key"), lit("v".getBytes).as("value"),
      lit("orders_retry").as("topic"), lit(3).as("partition"),
      lit(7L).as("offset"), current_timestamp().as("timestamp"),
      lit("orders").as("topicEntity"), lit(2).as("retryCount"),
      lit(next).as("nextAttemptAt"), lit("geo").as("channel"),
      array(struct(lit("trace-id").as("key"),
        lit("t-1".getBytes).as("value"))).as("headers"))
    val wire = io.sinkProjection(env)
    val hs = wire.select("headers").head().getSeq[org.apache.spark.sql.Row](0)
    assert(hs.map(_.getString(0)).toSet == Set("trace-id",
      "graft.retryCount", "graft.nextAttemptAtMicros", "graft.channel"))
    // what the Kafka source would hand back
    val sourceFrame = wire.select(col("key"), col("value"),
      lit("orders_retry").as("topic"), lit(3).as("partition"),
      lit(7L).as("offset"), current_timestamp().as("timestamp"),
      col("headers"))
    val back = io.normalize(sourceFrame, "orders").head()
    assert(back.getAs[Int]("retryCount") == 2,
      "a lost retryCount means no backoff and never exhausting to the DLQ")
    assert(back.getAs[java.sql.Timestamp]("nextAttemptAt") == next)
    assert(back.getAs[String]("channel") == "geo")
    val userHs = back.getAs[scala.collection.Seq[org.apache.spark.sql.Row]](
      "headers")
    assert(userHs.map(_.getString(0)).toSeq == Seq("trace-id"),
      "graft.* wire headers must not leak into the user-visible headers")
    // a key/value-ONLY producer frame (the plain send path, e.g.
    // KafkaSmoke's publisher) must project cleanly: every retry-state
    // column is guarded, not just `headers`
    val plain = Seq(("k1", "v1")).toDF("key", "value")
    val plainWire = io.sinkProjection(plain)
    assert(plainWire.columns.toSeq == Seq("key", "value", "headers"))
    assert(plainWire.head().getSeq[org.apache.spark.sql.Row](2).isEmpty,
      "no retry state and no user headers → empty wire headers")

    // the presence guard must match col()'s CASE-INSENSITIVE resolution:
    // a frame carrying `retrycount` (lower-cased upstream) still writes
    // the retry header — an exact-match guard would silently null it and
    // every record would look like a first failure forever
    val lowered = Seq(1).toDF("i").select(
      lit("k".getBytes).as("key"), lit("v".getBytes).as("value"),
      lit(4).as("retrycount"))
    val loweredHs = io.sinkProjection(lowered)
      .select("headers").head().getSeq[org.apache.spark.sql.Row](0)
    assert(loweredHs.map(_.getString(0)) == Seq("graft.retryCount"),
      s"case-insensitive retry-state carry, got $loweredHs")

    // under spark.sql.caseSensitive=true a frame may legally carry BOTH
    // retryCount and retrycount — the exact-case column must win (first-
    // enumerated would read whichever stale state happens to come first),
    // and multiple matches with NO exact winner must fail loudly
    spark.conf.set("spark.sql.caseSensitive", "true")
    try {
      val dual = Seq(1).toDF("i").select(
        lit("k".getBytes).as("key"), lit("v".getBytes).as("value"),
        lit(9).as("retrycount"), lit(4).as("retryCount"))
      val dualHs = io.sinkProjection(dual)
        .select("headers").head().getSeq[org.apache.spark.sql.Row](0)
      val rc = dualHs.collectFirst {
        case r if r.getString(0) == "graft.retryCount" =>
          new String(r.getAs[Array[Byte]](1), "UTF-8")
      }
      assert(rc.contains("4"),
        s"exact-case retryCount must win over retrycount, got $dualHs")
      val noExact = Seq(1).toDF("i").select(
        lit("k".getBytes).as("key"), lit("v".getBytes).as("value"),
        lit(9).as("RETRYCOUNT"), lit(4).as("retrycount"))
      val ex = intercept[IllegalArgumentException] {
        io.sinkProjection(noExact)
      }
      assert(ex.getMessage.contains("ambiguous"), ex.getMessage)
      // under the DEFAULT case-insensitive session the same dual frame
      // is ambiguous even with an exact-case name present — col() there
      // resolves case-insensitively, so the curated error must fire
      // before Spark's opaque ambiguous-reference AnalysisException
      spark.conf.set("spark.sql.caseSensitive", "false")
      val exCi = intercept[IllegalArgumentException] {
        io.sinkProjection(dual)
      }
      assert(exCi.getMessage.contains("ambiguous"), exCi.getMessage)
    } finally spark.conf.set("spark.sql.caseSensitive", "false")

    // a first-delivery record (no retry state) round-trips nulls
    val fresh = io.normalize(io.sinkProjection(env
        .withColumn("retryCount", lit(null).cast("int"))
        .withColumn("nextAttemptAt", lit(null).cast("timestamp"))
        .withColumn("channel", lit(null).cast("string")))
      .select(col("key"), col("value"), lit("t").as("topic"),
        lit(0).as("partition"), lit(0L).as("offset"),
        current_timestamp().as("timestamp"), col("headers")), "orders")
      .head()
    assert(fresh.isNullAt(fresh.fieldIndex("retryCount"))
      && fresh.isNullAt(fresh.fieldIndex("nextAttemptAt"))
      && fresh.isNullAt(fresh.fieldIndex("channel")))
  }
}
