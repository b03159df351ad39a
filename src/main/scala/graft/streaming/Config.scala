package graft.streaming

/** Typed route/retry configuration — the Spark mirror of the reference's
  * config.edn sections (SURVEY.md §1.5; reference config.clj:19-53,
  * streams.clj:22-32, kafka_consumer/consumer.clj:8-14) with the same
  * defaulting discipline and boot-time validation (init.clj:202-224).
  */
final case class RetryConfig(
    enabled: Boolean = false,
    count: Int = 5,
    backoffType: BackoffType = BackoffType.Linear,
    queueTimeoutMs: Long = 5000L)

sealed trait BackoffType
object BackoffType {
  case object Linear extends BackoffType
  case object Exponential extends BackoffType
}

/** One channel (RabbitMQ-worker analogue, doc/CONCEPTS.md:32-43): a named
  * fan-out target whose parallelism is decoupled from the input partition
  * count — in Spark, a separate streaming query over the channel topic with
  * its own `workerCount` → repartition/maxOffsets sizing. */
final case class ChannelConfig(
    name: String,
    workerCount: Int = 4,
    retry: RetryConfig = RetryConfig())

/** A stream route (stream-router entry, streams.clj:181-190):
  * `originTopic` is a regex subscription; `oldestProcessedMessageInS` is the
  * too-old cutoff (streams.clj:26 default 604800 = 7 days);
  * `threadCount` maps to the per-route parallelism knob
  * (num.stream.threads ≈ shuffle partitions / maxOffsetsPerTrigger). */
final case class StreamRouteConfig(
    topicEntity: String,
    originTopic: String,
    oldestProcessedMessageInS: Long = 604800L,
    threadCount: Int = 1,
    retry: RetryConfig = RetryConfig(),
    channels: Map[String, ChannelConfig] = Map.empty,
    /** false → per-trigger due-filter reader (TTL quantized to trigger);
      * true → exact-time release via flatMapGroupsWithState timers. */
    exactRetryRelease: Boolean = false)

/** A batch route (kafka_consumer/consumer.clj): polled consumption with
  * bounded batches — in Spark, Trigger.AvailableNow + maxOffsetsPerTrigger. */
final case class BatchRouteConfig(
    topicEntity: String,
    originTopic: String,
    maxPollRecords: Int = 500,
    threadCount: Int = 2,
    retry: RetryConfig = RetryConfig())

/** Broker security settings — the Spark translation of the reference's
  * `:ssl`/`:sasl` config sections (config.clj:233-298: build-ssl-properties
  * / build-sasl-properties turn kebab-case config into Kafka `ssl.*` /
  * `sasl.*` properties). Here the same translation produces the `kafka.`-
  * prefixed source/sink options Spark's Kafka connector forwards to the
  * client. */
final case class SecurityConfig(
    protocol: Option[String] = None,           // SSL | SASL_SSL | SASL_PLAINTEXT
    sslKeystoreLocation: Option[String] = None,
    sslKeystorePassword: Option[String] = None,
    sslKeyPassword: Option[String] = None,
    sslTruststoreLocation: Option[String] = None,
    sslTruststorePassword: Option[String] = None,
    saslMechanism: Option[String] = None,      // PLAIN | SCRAM-SHA-256/512 ...
    saslJaasConfig: Option[String] = None) {

  /** Options for `spark.read[Stream].format("kafka")` (and the sink). */
  def kafkaOptions: Map[String, String] = Seq(
    "kafka.security.protocol" -> protocol,
    "kafka.ssl.keystore.location" -> sslKeystoreLocation,
    "kafka.ssl.keystore.password" -> sslKeystorePassword,
    "kafka.ssl.key.password" -> sslKeyPassword,
    "kafka.ssl.truststore.location" -> sslTruststoreLocation,
    "kafka.ssl.truststore.password" -> sslTruststorePassword,
    "kafka.sasl.mechanism" -> saslMechanism,
    "kafka.sasl.jaas.config" -> saslJaasConfig,
  ).collect { case (k, Some(v)) => k -> v }.toMap
}

object SecurityConfig {
  /** PLAIN-mechanism JAAS line (the common SASL_SSL + PLAIN setup the
    * reference's test cluster uses, Makefile:40-50). */
  def plainJaas(username: String, password: String): String =
    "org.apache.kafka.common.security.plain.PlainLoginModule required " +
      s"""username="$username" password="$password";"""
}

/** Engine modes (init.clj:121-143): which subsystems start. */
sealed trait Mode
object Mode {
  case object StreamWorker extends Mode
  case object BatchWorker extends Mode
  case object Worker extends Mode        // retry-topic readers
  case object ApiServer extends Mode     // management HTTP
  val all: Set[Mode] = Set(StreamWorker, BatchWorker, Worker, ApiServer)
}

final case class EngineConfig(
    streamRoutes: Map[String, StreamRouteConfig] = Map.empty,
    batchRoutes: Map[String, BatchRouteConfig] = Map.empty,
    httpPort: Int = 8010,
    drainTimeoutMs: Long = 5000L,
    /** Push-metrics backend (config.clj's `:statsd` section); when enabled
      * the engine registers a [[StatsdSink]] on its registry at boot. */
    statsd: StatsdConfig = StatsdConfig(),
    /** Stateful-operator state store: "memory" (Spark's default in-heap
      * HDFS-backed provider) or "rocksdb" (embedded RocksDB + changelog
      * checkpointing — the reference's RocksDB-store architecture,
      * streams.clj:27). Applied to the session by [[GraftApp]] at boot via
      * [[graft.GraftSession.rocksdbConfs]]. */
    stateStore: String = "memory")

object EngineConfig {
  /** Max delay-queue ladder depth — messaging/producer.clj:20. */
  val MaxExponentialRetries = 25

  /** Boot-time route validation ≡ init.clj:202-224 / the Prismatic schemas
    * at init.clj:187-200: route keys non-empty, entities unique across
    * stream+batch, channel names well-formed, retry counts sane. Returns the
    * list of violations (empty = valid). */
  def validate(cfg: EngineConfig): Seq[String] = {
    val errs = Seq.newBuilder[String]
    // 0 and negatives are NOT "stop immediately": Spark treats a
    // non-positive spark.sql.streaming.stopTimeout as wait-indefinitely,
    // so they'd invert the E11 bounded-drain promise into an unbounded
    // hang inside stopAll (and the shutdown hook)
    if (cfg.drainTimeoutMs <= 0)
      errs += s"drain-timeout-ms must be > 0 (got ${cfg.drainTimeoutMs}; " +
        "Spark treats a non-positive stop timeout as wait-indefinitely)"
    (cfg.streamRoutes.keySet intersect cfg.batchRoutes.keySet).foreach(e =>
      errs += s"topic entity '$e' declared as both stream and batch route")
    // the one retry check: stream routes, their channels and batch routes
    // all run the same retry cycle
    def checkRetry(where: String, r: RetryConfig): Unit = {
      if (r.count < 0) errs += s"$where: negative retry count"
      if (r.count > MaxExponentialRetries
          && r.backoffType == BackoffType.Exponential)
        errs += s"$where: exponential retry count > $MaxExponentialRetries"
    }
    cfg.streamRoutes.foreach { case (k, r) =>
      if (k != r.topicEntity) errs += s"stream route key '$k' != entity '${r.topicEntity}'"
      if (r.originTopic.isEmpty) errs += s"stream route '$k': empty origin-topic"
      checkRetry(s"stream route '$k'", r.retry)
      r.channels.foreach { case (cn, ch) =>
        if (cn != ch.name) errs += s"channel key '$cn' != name '${ch.name}' in route '$k'"
        if (ch.workerCount <= 0) errs += s"channel '$cn' in route '$k': worker-count must be > 0"
        checkRetry(s"channel '$cn' in route '$k'", ch.retry)
      }
    }
    cfg.batchRoutes.foreach { case (k, r) =>
      if (k != r.topicEntity) errs += s"batch route key '$k' != entity '${r.topicEntity}'"
      if (r.originTopic.isEmpty) errs += s"batch route '$k': empty origin-topic"
      if (r.maxPollRecords <= 0) errs += s"batch route '$k': max-poll-records must be > 0"
      checkRetry(s"batch route '$k'", r.retry)
    }
    if (!Set("memory", "rocksdb").contains(cfg.stateStore))
      errs += s"state-store '${cfg.stateStore}' is not one of: memory, rocksdb"
    errs.result()
  }

  /** Retry/DLQ/channel topic naming — the Kafka-topic translation of the
    * reference's queue topology (messaging/producer.clj:302-378). */
  def instantTopic(entity: String): String = s"${entity}_instant"
  def retryTopic(entity: String): String = s"${entity}_retry"
  def deadLetterTopic(entity: String): String = s"${entity}_dead_letter"
  def channelTopic(entity: String, channel: String): String =
    s"${entity}_channel_$channel"
}
