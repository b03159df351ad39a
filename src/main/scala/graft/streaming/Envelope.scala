package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

/** One Kafka record header (key + raw bytes), as the Kafka source/sink
  * represent it (`includeHeaders` → `array<struct<key:string,value:binary>>`). */
final case class Header(key: String, value: Array[Byte])

/** The record envelope — the engine's unit of data, mirroring the Kafka
  * source schema plus the retry-envelope extension (SURVEY.md §1.2; reference
  * message_payload.clj:4, header_transformer.clj:9-14,
  * messaging/producer.clj:288-293).
  *
  * On a real cluster this is exactly what `spark.readStream.format("kafka")`
  * yields (with `includeHeaders`); the retry fields are added by the
  * dispatcher when a record is published to a retry/DLQ topic. Headers ride
  * the envelope top-level — the reference's HeaderTransformer shape
  * (`{:value :headers :metadata :key}`, header_transformer.clj:5-15) — are
  * propagated through retry/DLQ/channel hops (the AMQP-property copy,
  * messaging/producer.clj:53-57), and are stripped from the user payload
  * (mapper.clj:18-26 dissoc's `:headers`).
  */
final case class Envelope(
    key: Array[Byte],
    value: Array[Byte],
    topic: String,
    partition: Int,
    offset: Long,
    timestamp: java.sql.Timestamp,
    topicEntity: String,
    retryCount: Option[Int] = None,
    nextAttemptAt: Option[java.sql.Timestamp] = None,
    channel: Option[String] = None,
    headers: Option[Seq[Header]] = None)

object Envelope {
  /** Kafka `includeHeaders` column type. */
  val headersType: ArrayType = ArrayType(StructType(Seq(
    StructField("key", StringType),
    StructField("value", BinaryType))))

  /** Kafka-source-compatible schema (FIXTURES.md §1). */
  val schema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("topicEntity", StringType),
    StructField("retryCount", IntegerType, nullable = true),
    StructField("nextAttemptAt", TimestampType, nullable = true),
    StructField("channel", StringType, nullable = true),
    StructField("headers", headersType, nullable = true)))

  /** Envelope columns a producer may omit (typed nulls added by
    * [[withOptionalColumns]]) — ONLY the retry-extension fields after the
    * 7 Kafka-source columns. Listed explicitly rather than derived from
    * nullability: every Kafka-source field defaults to nullable=true in
    * the StructType, and treating those as optional would let a frame
    * missing `value` or `key` through with a typed null instead of
    * failing fast at append time. */
  private val optionalNames =
    Set("retryCount", "nextAttemptAt", "channel", "headers")
  private val optional: Seq[StructField] =
    schema.fields.filter(f => optionalNames.contains(f.name)).toSeq

  /** Gives every optional envelope column its canonical name, adding a
    * typed null for each one the frame lacks, so frames built before a
    * column existed (or by minimal producers) satisfy the full envelope
    * schema. One presence rule serves every transport:
    *  - the exact-case name wins;
    *  - otherwise a lone case variant (`retrycount`) binds and is renamed
    *    to the canonical name, so its retry state is kept rather than
    *    replaced by a null that would restart the retry budget;
    *  - anything else that is ambiguous fails, naming the columns: several
    *    variants with no exact name, or, under case-insensitive analysis
    *    (where col() cannot tell them apart), any two variants.
    * The case mode is the FRAME's session conf, not the thread-local
    * SQLConf.get: this runs on non-Spark threads too (management-server
    * pool → dead-set replay → append), where the thread-local falls back
    * to a default conf. */
  def withOptionalColumns(df: DataFrame): DataFrame = {
    val caseSensitive =
      df.sparkSession.sessionState.conf.caseSensitiveAnalysis
    optional.foldLeft(df) { (d, f) =>
      val matches = d.columns.filter(_.equalsIgnoreCase(f.name))
      val exact = matches.contains(f.name)
      if (matches.length > 1 && (!caseSensitive || !exact))
        throw new IllegalArgumentException(
          s"ambiguous producer frame: columns ${matches.mkString(", ")} " +
            s"all match '${f.name}' case-insensitively — rename so one " +
            "canonical column carries the state")
      matches match {
        case _ if exact => d
        case Array(variant) => d.withColumnRenamed(variant, f.name)
        case _ => d.withColumn(f.name, lit(null).cast(f.dataType))
      }
    }
  }

  /** Result codes a handler may return per record — mapper.clj:55-65.
    * (`:block` is unimplemented in the reference, mapper.clj:62 — out of
    * scope per SURVEY §7.3.) */
  object Code {
    val Success = "success"
    val Skip = "skip"
    val Retry = "retry"
    val DeadLetter = "dead_letter"
    /** channel fan-out is encoded as `channel:<name>` */
    def channel(name: String): String = s"channel:$name"
    val terminal: Set[String] = Set(Success, Skip, Retry, DeadLetter)
  }
}
