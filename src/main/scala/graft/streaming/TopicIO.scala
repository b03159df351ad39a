package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import java.nio.file.{Files, Paths}

/** Topic transport abstraction. Production transport is Kafka (the
  * reference's only source, SURVEY §2.1); tests and this container (no
  * kafka-sql jar ships with the image) use a parquet-directory transport
  * with the same envelope schema and append-only, offset-ordered semantics.
  */
trait TopicIO extends Serializable {
  /** Batch-read the full topic as envelope rows. */
  def read(spark: SparkSession, topic: String): DataFrame
  /** Streaming read (Structured Streaming source). */
  def readStream(spark: SparkSession, topic: String): DataFrame =
    readStream(spark, topic, Map.empty)
  /** Streaming read with source options (throttling etc.). */
  def readStream(spark: SparkSession, topic: String,
      options: Map[String, String]): DataFrame
  /** Batch read of a topic by its EXACT name. Origin topics may be
    * regexes (S1's pattern subscription); engine-derived names
    * (retry/DLQ/instant/channel) are literal, and a transport whose
    * plain read treats names as patterns must read exactly here —
    * "orders.v1_retry" as a pattern also consumes "orders2v1_retry"
    * (cross-entity message theft; dotted entities are a supported
    * config shape). Default: same as read (the file transport's topic
    * dirs are exact already). */
  def readExact(spark: SparkSession, topic: String): DataFrame =
    read(spark, topic)
  /** Streaming read of a topic by its EXACT name — see [[readExact]]. */
  def readStreamExact(spark: SparkSession, topic: String,
      options: Map[String, String] = Map.empty): DataFrame =
    readStream(spark, topic, options)
  /** Transport-appropriate per-trigger throttle for a polled batch route
    * (S3 max-poll-records): Kafka → maxOffsetsPerTrigger; file transport →
    * maxFilesPerTrigger (file granularity is the closest analogue). */
  def paceOptions(maxPollRecords: Int): Map[String, String] = Map.empty
  /** Append envelope rows. Must assign monotonically increasing offsets. */
  def append(df: DataFrame, topic: String): Unit
  /** Largest offset written so far, -1 if empty. */
  def maxOffset(spark: SparkSession, topic: String): Long
  /** K4 topology provisioning (messaging/producer.clj:302-378 → Kafka
    * AdminClient.createTopics): ensure the retry/DLQ/instant/channel topics
    * for an entity exist before queries start. */
  def provision(entity: String, channels: Iterable[String]): Unit = ()

  /** Idempotent append keyed by a replay token (SURVEY §7.3.1: foreachBatch
    * may replay a micro-batch after failure; sink writes should not
    * double-publish). The token is `<query>-<batchId>`. A transport that
    * implements this keeps one applied marker per (topic, token), and an
    * append whose token is already applied to the topic is a no-op; it is
    * the single-target case of [[appendRouted]]. Default: non-idempotent
    * passthrough — which is what the Kafka transport inherits: Spark's
    * Kafka sink has NO transactional producer, so a replayed micro-batch
    * there may re-publish (standard Kafka at-least-once). That is SAFE,
    * not silent corruption: duplicates carry the same `graft.*` retry
    * state and converge through the same retry/DLQ cycle — but
    * deployments needing exactly-once emission on Kafka must dedup
    * downstream (e.g. on (topic, key, graft headers)) or override this
    * with a transactional client. */
  def appendIdempotent(df: DataFrame, topic: String, token: String): Unit =
    append(df, topic)

  /** Routed append: each row of `df` goes to the topic named by its
    * `topicCol` value; rows naming no topic in `targets` are dropped, and
    * `topicCol` is not written. With a token, each target topic gets the
    * [[appendIdempotent]] contract on its own, so a replay after a crash
    * part-way through lands every row exactly once. Without one, it is a
    * plain [[append]] per topic. Default: one such call per target — what
    * a forwarding decorator inherits, with the same topic contents.
    * Transports override it to write all targets in one pass. */
  def appendRouted(df: DataFrame, topicCol: String, targets: Seq[String],
      token: Option[String]): Unit =
    targets.foreach { t =>
      val rows = df.filter(col(topicCol) === t).drop(topicCol)
      token match {
        case Some(k) => appendIdempotent(rows, t, k)
        case None => append(rows, t)
      }
    }
}

/** Kafka transport: thin option-builders over the built-in kafka source/sink
  * (format("kafka")). Compiles without the connector jar — it is resolved by
  * name at runtime — so this container can't execute it; FileTopicIO is the
  * test transport. On a cluster:
  * readStream.format("kafka").option("subscribePattern", topic) mirrors the
  * regex subscription of streams.clj:184, and checkpointed offsets replace
  * per-message acks (SURVEY §2.1 S1/S4).
  */
final class KafkaTopicIO(bootstrapServers: String,
    security: SecurityConfig = SecurityConfig()) extends TopicIO {

  /** Exact option map handed to the Kafka source — exposed (package-
    * private) so KafkaTopicIOSpec can pin every option name even though
    * the connector jar isn't in this container. `extra` (per-call stream
    * options, e.g. pacing) layers last so callers can override. */
  private[streaming] def readerOptions(topic: String,
      extra: Map[String, String] = Map.empty,
      exact: Boolean = false): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> bootstrapServers,
      // exact=true → literal `subscribe`: derived topic names
      // (retry/DLQ/instant/channel) are not patterns, and subscribing
      // "orders.v1_retry" as a pattern also consumes "orders2v1_retry"
      (if (exact) "subscribe" else "subscribePattern") -> topic,
      "startingOffsets" -> "earliest",
      "includeHeaders" -> "true") ++ security.kafkaOptions ++ extra

  /** Exact option map handed to the Kafka sink. */
  private[streaming] def writerOptions(topic: String): Map[String, String] =
    routedWriterOptions + ("topic" -> topic)

  /** The routed sink's options: no fixed `topic`, so the sink sends each
    * row to the topic in its `topic` column. */
  private[streaming] def routedWriterOptions: Map[String, String] =
    Map("kafka.bootstrap.servers" -> bootstrapServers) ++ security.kafkaOptions

  def read(spark: SparkSession, topic: String): DataFrame =
    normalize(spark.read.format("kafka")
      .options(readerOptions(topic)).load(), topic)

  def readStream(spark: SparkSession, topic: String,
      options: Map[String, String]): DataFrame =
    normalize(spark.readStream.format("kafka")
      .options(readerOptions(topic, options)).load(), topic)

  override def readExact(spark: SparkSession, topic: String): DataFrame =
    normalize(spark.read.format("kafka")
      .options(readerOptions(topic, exact = true)).load(), topic)

  override def readStreamExact(spark: SparkSession, topic: String,
      options: Map[String, String] = Map.empty): DataFrame =
    normalize(spark.readStream.format("kafka")
      .options(readerOptions(topic, options, exact = true)).load(), topic)

  override def paceOptions(maxPollRecords: Int): Map[String, String] =
    Map("maxOffsetsPerTrigger" -> maxPollRecords.toString)

  /** Kafka source columns → Envelope columns. Record headers are carried
    * verbatim, EXCEPT the engine's own `graft.*` entries, which are the
    * wire form of the retry state ([[KafkaTopicIO.sinkProjection]] writes
    * them): retryCount / nextAttemptAt / channel are restored from those
    * headers — the AMQP x-death-property pattern — and the `graft.*`
    * entries are stripped from the exposed headers column so user code
    * sees exactly the headers it published. */
  private[streaming] def normalize(df: DataFrame,
      topicEntity: String): DataFrame = {
    import KafkaTopicIO._
    // header value by key, null when absent; the when() guard keeps the
    // element access inside the non-empty branch (ANSI-safe)
    def hdr(name: String) = {
      val f = filter(col("headers"),
        h => h.getField("key") === lit(name))
      when(size(f) > 0,
        decode(f.getItem(0).getField("value"), "UTF-8"))
    }
    df.select(col("key"), col("value"), col("topic"), col("partition"),
      col("offset"), col("timestamp"),
      lit(topicEntity).as("topicEntity"),
      hdr(RetryCountHeader).cast("int").as("retryCount"),
      timestamp_micros(hdr(NextAttemptHeader).cast("long"))
        .as("nextAttemptAt"),
      hdr(ChannelHeader).as("channel"),
      filter(col("headers"),
        h => !h.getField("key").startsWith(HeaderPrefix)).as("headers"))
  }

  /** Sink projection: key/value plus the `headers` column, which the
    * Kafka sink picks up by name and writes as record headers — the
    * AMQP-property copy of messaging/producer.clj:53-57, so headers
    * survive every retry/DLQ/channel hop. The engine's retry state
    * (retryCount / nextAttemptAt / channel) rides the same headers as
    * `graft.*` entries; without them the retry reader would see every
    * record as a first failure forever (no backoff, never exhausting to
    * the DLQ). Any stale `graft.*` user entries are dropped first. */
  private[streaming] def sinkProjection(df: DataFrame,
      extra: Column*): DataFrame = {
    import KafkaTopicIO._
    def entry(name: String, v: org.apache.spark.sql.Column) =
      when(v.isNotNull, struct(lit(name).as("key"),
        encode(v.cast("string"), "UTF-8").as("value")))
    // Producer frames from user code may carry only key/value (the
    // plain send path) — each retry-state column gets the same
    // presence guard as `headers`, falling back to a typed null so
    // entry() drops the header instead of the whole select failing.
    // Presence must match col()'s CASE-INSENSITIVE resolution (Spark's
    // default): an exact-match contains() would silently null out retry
    // state carried as e.g. `retrycount`, turning every record into a
    // first failure forever. Resolve through the ACTUALLY-PRESENT name,
    // not the canonical one — under spark.sql.caseSensitive=true a
    // col("retryCount") over a `retrycount` frame would fail analysis
    // where the old code merely degraded to null.
    // Exact-case match wins when several columns match case-
    // insensitively: under spark.sql.caseSensitive=true a frame may
    // legally carry BOTH `retryCount` and `retrycount`, and binding to
    // whichever enumerates first could read stale retry state. Genuine
    // ambiguity fails loudly with a curated message — that is EVERY
    // multi-match under a case-INsensitive session (col() there
    // resolves case-insensitively and would throw Spark's opaque
    // ambiguous-reference error even for the exact-case name), and a
    // no-exact-winner multi-match under a case-sensitive one (silently
    // picking one is the stale-state bug with a different winner).
    def resolve(name: String): Option[org.apache.spark.sql.Column] = {
      val matches = df.columns.filter(_.equalsIgnoreCase(name))
      // the FRAME's session conf, not the thread-local SQLConf.get: this
      // runs on non-Spark threads too (management-server pool → dead-set
      // replay → append), where no session is active and the thread-local
      // falls back to a default conf — silently treating a
      // caseSensitiveAnalysis=true session as case-insensitive (the
      // Envelope.withOptionalColumns hardening, mirrored)
      val caseSensitive =
        df.sparkSession.sessionState.conf.caseSensitiveAnalysis
      def ambiguous = throw new IllegalArgumentException(
        s"ambiguous producer frame: columns ${matches.mkString(", ")} " +
          s"all match '$name' case-insensitively — rename so one " +
          "canonical column carries the state")
      if (matches.length > 1 && !caseSensitive) ambiguous
      matches.find(_ == name).orElse {
        if (matches.length > 1) ambiguous else matches.headOption
      }.map(col)
    }
    def stateCol(name: String, tpe: String) =
      resolve(name).getOrElse(lit(null).cast(tpe))
    val graft = filter(array(
      entry(RetryCountHeader, stateCol("retryCount", "int")),
      entry(NextAttemptHeader,
        unix_micros(stateCol("nextAttemptAt", "timestamp"))),
      entry(ChannelHeader, stateCol("channel", "string"))),
      e => e.isNotNull)
    val user = resolve("headers")
      .map(h0 => filter(coalesce(h0, array()),
        h => !h.getField("key").startsWith(HeaderPrefix)))
      .getOrElse(array().cast("array<struct<key:string,value:binary>>"))
    df.select(Seq(col("key"), col("value"),
      concat(user, graft).as("headers")) ++ extra: _*)
  }

  /** Sink projection of a routed frame: the targets' rows, with the
    * destination as the sink's per-row `topic` column. */
  private[streaming] def routedProjection(df: DataFrame, topicCol: String,
      targets: Seq[String]): DataFrame =
    sinkProjection(df.filter(col(topicCol).isin(targets: _*)),
      col(topicCol).as("topic"))

  def append(df: DataFrame, topic: String): Unit =
    sinkProjection(df)
      .write.format("kafka")
      .options(writerOptions(topic))
      .save()

  /** One Kafka write for every target: the sink routes each row by its
    * `topic` column. No replay markers (see [[appendIdempotent]]). */
  override def appendRouted(df: DataFrame, topicCol: String,
      targets: Seq[String], token: Option[String]): Unit =
    routedProjection(df, topicCol, targets)
      .write.format("kafka")
      .options(routedWriterOptions)
      .save()

  def maxOffset(spark: SparkSession, topic: String): Long =
    read(spark, topic).agg(max("offset")).collect()(0) match {
      case r if r.isNullAt(0) => -1L
      case r => r.getLong(0)
    }

  /** K4 on a real broker: create the entity's derived topics via
    * kafka-clients' AdminClient. This used to be a silent no-op (the
    * trait default) while the working provisioner lived only in the
    * smoke main — with broker auto-create disabled, the engine's own
    * provisioning did nothing and the first retry/DLQ publish failed
    * opaquely at runtime. Failures here WARN and continue (topics may
    * pre-exist under an ACL that denies creation; genuinely missing
    * topics still fail fast at first publish). */
  override def provision(entity: String, channels: Iterable[String]): Unit = {
    val names = Seq(EngineConfig.instantTopic(entity),
      EngineConfig.retryTopic(entity),
      EngineConfig.deadLetterTopic(entity)) ++
      channels.map(EngineConfig.channelTopic(entity, _))
    try KafkaTopicIO.createTopics(bootstrapServers, security, names)
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[graft] provisioning ${names.mkString(", ")} " +
        s"failed (${e.getMessage}) — continuing; topics may already exist")
    }
  }
}

object KafkaTopicIO {
  /** Wire names of the engine's retry state on the Kafka transport —
    * record headers, mirroring AMQP's x-death properties. */
  private[streaming] val HeaderPrefix = "graft."
  private[streaming] val RetryCountHeader = "graft.retryCount"
  private[streaming] val NextAttemptHeader = "graft.nextAttemptAtMicros"
  private[streaming] val ChannelHeader = "graft.channel"

  /** Reflective AdminClient topic creation — shared by
    * [[KafkaTopicIO.provision]] and the smoke main; resolved
    * reflectively so the engine compiles (and WARNs + no-ops) without
    * kafka-clients on the classpath. Each per-topic future is CHECKED:
    * createTopics returns normally with failures inside the
    * KafkaFutures, so an unchecked call reported success under
    * ACL/policy rejections and the operator learned the truth only from
    * an opaque producer timeout later. TopicExistsException counts as
    * success (idempotent re-provision). Throws IllegalStateException on
    * any other per-topic failure. */
  private[streaming] def createTopics(bootstrap: String,
      security: SecurityConfig, names: Seq[String],
      partitions: Int = 4, replication: Short = 1): Unit = {
    val adminCls =
      try Class.forName("org.apache.kafka.clients.admin.AdminClient")
      catch { case _: ClassNotFoundException =>
        System.err.println("[graft] kafka-clients not on the classpath; " +
          "topic provisioning skipped — relying on broker auto-create")
        return
      }
    val props = new java.util.Properties()
    props.put("bootstrap.servers", bootstrap)
    // admin-client properties are the UNprefixed forms of the Spark
    // connector's kafka.* options
    security.kafkaOptions.foreach { case (k, v) =>
      props.put(k.stripPrefix("kafka."), v)
    }
    val admin = adminCls.getMethod("create", classOf[java.util.Properties])
      .invoke(null, props)
    try {
      val newTopicCls =
        Class.forName("org.apache.kafka.clients.admin.NewTopic")
      val ctor = newTopicCls.getConstructor(classOf[String],
        classOf[Int], classOf[Short])
      val list = new java.util.ArrayList[AnyRef]()
      names.foreach(t => list.add(
        ctor.newInstance(t, Int.box(partitions), Short.box(replication))
          .asInstanceOf[AnyRef]))
      val result = adminCls
        .getMethod("createTopics", classOf[java.util.Collection[_]])
        .invoke(admin, list)
      val futures = result.getClass.getMethod("values").invoke(result)
        .asInstanceOf[java.util.Map[String, AnyRef]]
      futures.forEach { (topic, fut) =>
        try fut.getClass.getMethod("get").invoke(fut)
        catch { case e: java.lang.reflect.InvocationTargetException =>
          def chain(t: Throwable): Seq[Throwable] =
            if (t == null) Nil else t +: chain(t.getCause)
          val tolerated = chain(e).exists(_.getClass.getName ==
            "org.apache.kafka.common.errors.TopicExistsException")
          if (!tolerated) {
            val root = chain(e).last
            throw new IllegalStateException(
              s"provisioning topic '$topic' failed: ${root.getMessage}",
              root)
          }
        }
      }
    } finally adminCls.getMethod("close").invoke(admin)
  }
}

/** Parquet-directory transport with envelope schema, used by every spec and
  * by the in-container engine. Offsets are assigned on append as
  * (previous max + zipWithIndex-style row_number), giving the same
  * append-only, offset-ordered log semantics the dead-set marker logic
  * (DeadSet.scala) relies on.
  */
final class FileTopicIO(baseDir: String) extends TopicIO {
  private def dir(topic: String) = s"$baseDir/$topic"

  /** Driver-side last-offset cache: `append` used to re-scan the whole
    * topic (`maxOffset`) per call, so the emulation's append cost grew
    * with topic size over a long-running stream — a bench-honesty wart,
    * not an engine property (the Kafka sink lets the broker assign
    * offsets). First touch of a topic scans once; after that the cache is
    * maintained arithmetically. Assumes one writer instance per topic —
    * the same single-writer assumption the scan-based version already
    * made (scan+write was never atomic). @transient: appends happen on
    * the driver's canonical instance; task-serialized copies never write. */
  @transient private lazy val lastOffset =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Per-topic append lock: concurrent queries appending to DIFFERENT
    * topics stay parallel; same-topic appends serialize (they must — the
    * scan-or-cache + write pair is a read-modify-write). */
  @transient private lazy val topicLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(topic: String): Object =
    topicLocks.computeIfAbsent(topic, _ => new Object)

  private def exists(topic: String): Boolean = {
    val p = Paths.get(dir(topic))
    Files.exists(p) && {
      // Files.list holds a directory fd until closed — unclosed, every
      // dead-set view/maxOffset scan leaks one until GC finalization
      val s = Files.list(p)
      try s.anyMatch(f => f.toString.endsWith(".parquet"))
      finally s.close()
    }
  }

  def read(spark: SparkSession, topic: String): DataFrame =
    if (exists(topic)) spark.read.schema(Envelope.schema).parquet(dir(topic))
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Envelope.schema)

  def readStream(spark: SparkSession, topic: String,
      options: Map[String, String]): DataFrame = {
    Files.createDirectories(Paths.get(dir(topic)))
    spark.readStream.schema(Envelope.schema).options(options)
      .parquet(dir(topic))
  }

  /** File-transport pacing: the parquet source has no per-record budget,
    * only maxFilesPerTrigger, and each append is one file ≈ one producer
    * poll batch. Files-per-trigger scales as records / 500 (Kafka's
    * default max.poll.records — the size a poll batch approximates), so
    * budgets <= 500 keep the one-file-per-trigger pacing S3's
    * max-poll-records semantics pin, while [[GraftEngine.scaleRoute]]'s
    * per-trigger-budget lever actually moves the throughput (it was a
    * silent no-op before: every budget mapped to 1 file). */
  override def paceOptions(maxPollRecords: Int): Map[String, String] =
    Map("maxFilesPerTrigger" ->
      math.max(1, maxPollRecords / 500).toString)

  def append(df: DataFrame, topic: String): Unit =
    appendRouted(df.withColumn(FileTopicIO.OneTopic, lit(topic)),
      FileTopicIO.OneTopic, Seq(topic), None)

  override def appendIdempotent(df: DataFrame, topic: String,
      token: String): Unit =
    appendRouted(df.withColumn(FileTopicIO.OneTopic, lit(topic)),
      FileTopicIO.OneTopic, Seq(topic), Some(token))

  /** Runs under the topic locks just before a target's files move into its
    * topic dir; specs make it throw to inject a crash between two moves. */
  @transient @volatile private[streaming] var beforeMove: String => Unit =
    _ => ()

  /** CRASH-SAFE, TOKEN-SCOPED routed append — the transport's one write
    * path ([[append]] and [[appendIdempotent]] are its single-target
    * cases). One staged write covers every pending target: rows are
    * stamped with their topic's next offsets and written, partitioned by
    * destination index, into a `_staging-<token>` dir (underscore-prefixed:
    * invisible to parquet scans) under the first pending topic's dir. Then,
    * topic by topic, the part files move into the topic dir under
    * token-stamped names and the topic's `_applied-<token>` marker is
    * created. A replay skips the topics whose marker exists and, for the
    * rest, deletes ONLY this token's stamped files and staging dir before
    * writing again: a crash between two topics' moves lands every row
    * exactly once, and records other writers committed to the same topics
    * in between survive (a whole-topic snapshot diff would destroy them).
    * The offset gap a reclaimed attempt leaves is fine: dead-set markers
    * rely on monotone offsets, not contiguous ones. Locks are taken in
    * sorted topic order, so concurrent routed appends cannot deadlock. */
  override def appendRouted(df: DataFrame, topicCol: String,
      targets: Seq[String], token: Option[String]): Unit = {
    val topics = targets.distinct
    withLocks(topics.sorted.toList) {
      topics.foreach(t => Files.createDirectories(Paths.get(dir(t))))
      val pending = topics.filter(t => token.forall(unapplied(t, _)))
      if (pending.nonEmpty) {
        val staging = Paths.get(dir(pending.head)).resolve("_staging-" +
          token.getOrElse(java.util.UUID.randomUUID().toString))
        val dest = col(topicCol)
        val idx = pending.indices.tail.foldLeft(
          when(dest === pending.head, 0)) { (c, i) =>
          c.when(dest === pending(i), i)
        }
        val last = writeStamped(df, idx, pending, staging.toString)
        // invalidate the warm caches BEFORE any file becomes visible: a
        // move loop failing partway (IO error, not a crash) leaves files
        // with offsets above the cached max, and a later append reading
        // the stale cache would mint DUPLICATE offsets. Each topic's
        // entry is re-established once the topic commits.
        pending.foreach(lastOffset.remove)
        val suffix = token.fold("")(k => s"-tok-${tokenStamp(k)}")
        pending.zipWithIndex.foreach { case (t, i) =>
          beforeMove(t)
          val d = Paths.get(dir(t))
          val part = staging.resolve(s"${FileTopicIO.DestField}=$i")
          listNames(part)
            .filter(n => n.endsWith(".parquet") && !n.startsWith("_")
              && !n.startsWith("."))
            .foreach { n =>
              Files.move(part.resolve(n),
                d.resolve(n.stripSuffix(".parquet") + suffix + ".parquet"),
                java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            }
          token.foreach(k => Files.createFile(d.resolve(s"_applied-$k")))
          lastOffset.put(t, last(i))
        }
        deleteRecursively(staging)
      }
    }
  }

  private def withLocks[T](sorted: List[String])(body: => T): T =
    sorted match {
      case Nil => body
      case t :: rest => lockFor(t).synchronized(withLocks(rest)(body))
    }

  private def listNames(d: java.nio.file.Path): Seq[String] =
    if (!Files.isDirectory(d)) Nil
    else {
      val s = Files.list(d)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString).toSeq
      } finally s.close()
    }

  /** Replay bookkeeping for one (topic, token), under the topic's lock:
    * false when the token is already applied to the topic. Otherwise a
    * crashed attempt's stamped files and staging dir are reclaimed first. */
  private def unapplied(topic: String, token: String): Boolean = {
    val d = Paths.get(dir(topic))
    val staging = d.resolve(s"_staging-$token")
    // pre-rework recovery marker: superseded by the staging protocol (its
    // whole-topic snapshot diff is exactly the loss bug fixed there)
    Files.deleteIfExists(d.resolve(s"_intent-$token"))
    if (Files.exists(d.resolve(s"_applied-$token"))) {
      // a crash between the marker and cleanup just leaks the staging dir
      deleteRecursively(staging)
      false
    } else {
      val stamped = s"-tok-${tokenStamp(token)}.parquet"
      val stale = listNames(d).filter(_.endsWith(stamped))
      if (stale.nonEmpty || Files.exists(staging)) {
        stale.foreach(n => Files.deleteIfExists(d.resolve(n)))
        deleteRecursively(staging)
        // the warm last-offset cache may reflect the deleted files —
        // drop it so the re-append rescans and keeps offsets monotone
        lastOffset.remove(topic)
      }
      true
    }
  }

  /** Offset-stamped envelope write into `outDir`, partitioned by the
    * destination index `idx` (a position in `topics`; rows whose index is
    * NULL are dropped). Each topic's offsets continue from its current
    * max. Returns each topic's new last offset. Caller holds the topics'
    * locks and updates `lastOffset` once the files are visible. */
  private def writeStamped(df: DataFrame, idx: Column, topics: Seq[String],
      outDir: String): Array[Long] = {
    val spark = df.sparkSession
    val bases = topics.map(maxOffset(spark, _) + 1).toArray
    val k = topics.size
    val fields = Envelope.schema.fieldNames.toIndexedSeq
    val offsetIdx = fields.indexOf("offset")
    val destIdx = fields.size
    val rows = Envelope.withOptionalColumns(df)
      .select(fields.map(col) :+ idx.as(FileTopicIO.DestField): _*)
      .filter(col(FileTopicIO.DestField).isNotNull).rdd
    // persist across the two jobs: the counting job and the stamping
    // write must see IDENTICAL partition contents — an unpersisted RDD
    // recomputes its whole lineage for the second job, paying the
    // upstream twice AND (for a nondeterministic upstream, or a
    // lost-executor recompute) risking offset ranges computed from one
    // materialization applied to a different one, breaking the
    // monotone-offset invariant the dead-set markers rely on
    rows.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // Contiguous offsets without a single-partition global window: one
      // counting job yields rows per (partition, topic), then every
      // partition stamps its contiguous range of each topic in parallel
      // — the multi-partition analogue of a log append.
      val counts = rows.mapPartitionsWithIndex { (pi, it) =>
        val c = new Array[Long](k)
        it.foreach(r => c(r.getInt(destIdx)) += 1)
        Iterator(pi -> c)
      }.collect().sortBy(_._1).map(_._2)
      // starts(p)(i): the first offset partition p stamps for topic i
      val starts = counts.scanLeft(bases)((s, c) =>
        s.zip(c).map { case (a, b) => a + b })
      val indexed = rows.mapPartitionsWithIndex { (pi, it) =>
        val next = starts(pi).clone()
        it.map { r =>
          val i = r.getInt(destIdx)
          val row = Row.fromSeq(r.toSeq.updated(offsetIdx, next(i)))
          next(i) += 1; row
        }
      }
      spark.createDataFrame(indexed,
        Envelope.schema.add(FileTopicIO.DestField, IntegerType))
        .write.partitionBy(FileTopicIO.DestField).mode("append")
        .parquet(outDir)
      starts.last.map(_ - 1)
    } finally rows.unpersist(blocking = false)
  }

  def maxOffset(spark: SparkSession, topic: String): Long =
    // under the topic lock: this is public API that RE-POPULATES the
    // cache on a miss, and an unlocked scan racing appendRouted's
    // move-in window could snapshot a partially-moved state and put a
    // stale max back right after the append invalidated it — re-opening
    // the duplicate-offset window the invalidation closes. Reentrant for
    // the appends themselves (same monitor, same thread).
    lockFor(topic).synchronized {
      Option(lastOffset.get(topic)).map(_.longValue()).getOrElse {
        val scanned =
          if (!exists(topic)) -1L
          else read(spark, topic).agg(max("offset")).collect()(0) match {
            case r if r.isNullAt(0) => -1L
            case r => r.getLong(0)
          }
        lastOffset.put(topic, scanned)
        scanned
      }
    }

  override def provision(entity: String, channels: Iterable[String]): Unit = {
    val topics = Seq(EngineConfig.instantTopic(entity),
      EngineConfig.retryTopic(entity), EngineConfig.deadLetterTopic(entity)) ++
      channels.map(EngineConfig.channelTopic(entity, _))
    topics.foreach(t => Files.createDirectories(Paths.get(dir(t))))
  }

  /** Filesystem-safe, collision-free stamp for a replay token, embedded in
    * the data-file names an attempt moves into the topic dir. Hashed (not
    * sanitized) so two distinct tokens can never share a stamp — a shared
    * stamp would let one token's recovery delete another token's files. */
  private def tokenStamp(token: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    md.digest(token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString
  }

  /** Propagating on purpose (graft.FsTree default): an undeletable stale
    * token file in recovery means the replay would duplicate data if it
    * proceeded — fail the append instead. */
  private def deleteRecursively(p: java.nio.file.Path): Unit =
    graft.FsTree.delete(p)
}

object FileTopicIO {
  /** Topic column of the single-target cases of `appendRouted`. */
  private val OneTopic = "graft_dest_topic"
  /** Staging partition column: a row's destination index. */
  private val DestField = "dest"
}
