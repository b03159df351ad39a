package graft

import org.apache.spark.sql.SparkSession

/** Canonical session builder: the configuration an engine deployment uses,
  * local or cluster (SURVEY §4.2 knobs + the custom function extensions).
  *
  * Notable at scale: AQE on (runtime coalescing + skew-join splitting),
  * shuffle partitions sized to cores (driver overrides per cluster), UTC
  * session time for oracle/cross-engine parity.
  *
  * `rocksdbStateStore = true` switches every stateful streaming operator
  * (windowed aggs, stream-stream joins, dropDuplicates, [flat]MapGroups
  * WithState) from the default in-heap HDFS-backed store to Spark's
  * embedded RocksDB provider with changelog checkpointing — state size
  * then bounds on local disk instead of executor heap, and a checkpoint
  * commit ships only the batch's delta, not a full snapshot. This is the
  * direct analogue of the reference's RocksDB-backed KStreams stores with
  * changelog topics (streams.clj:27 — its bounded-window-store guarantee);
  * at 100 TB-scale state (billions of join/session keys) the in-heap store
  * is not an option. Local default stays in-heap: tiny tests are faster
  * there and the provider is a per-deployment choice, not semantics.
  */
object GraftSession {
  def build(appName: String = "graft",
      master: String = s"local[${Runtime.getRuntime.availableProcessors}]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors,
      rocksdbStateStore: Boolean = false)
      : SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .appName(appName)
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // Spark 4 refuses TIMESTAMP(NANOS) parquet columns without this
    // legacy flag (they read as LongType; Tables.events then truncates
    // to micros). Session-global by necessity — the flag has no
    // per-read form — so it belongs HERE, visible at session build.
    // Tables.events also sets it when it resolves events.parquet in a
    // session (once per resolution, via the table catalog), which covers
    // sessions built elsewhere.
    b.config("spark.sql.legacy.parquet.nanosAsLong", "true")
    if (rocksdbStateStore) rocksdbConfs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    // getOrCreate RETURNS an existing session with every builder conf
    // silently ignored — a caller that requested RocksDB state would
    // run stateful streams on the in-heap provider while believing
    // otherwise (an executor-OOM at scale). SQL confs are
    // runtime-settable, so apply the ones that matter on the reused
    // session; warn where a reused immutable conf diverges.
    if (rocksdbStateStore &&
        !spark.conf.getOption(
          "spark.sql.streaming.stateStore.providerClass")
          .contains(RocksDbProvider)) {
      System.err.println("[graft] reusing an existing SparkSession: " +
        "applying RocksDB state-store confs at runtime")
      rocksdbConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    }
    if (spark.conf.get("spark.sql.session.timeZone") != "UTC")
      System.err.println("[graft] WARNING: reused session timezone is " +
        s"'${spark.conf.get("spark.sql.session.timeZone")}', not UTC — " +
        "oracle/cross-engine timestamp parity is not guaranteed " +
        "(runtime-settable: spark.conf.set(\"spark.sql.session.timeZone\", \"UTC\"))")
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Spark's embedded RocksDB state store (spark-sql, no extra jars —
    * rocksdbjni ships with the distribution). */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The exact conf set `rocksdbStateStore = true` applies — exposed so a
    * caller can apply it to an existing session (SQL confs are settable at
    * runtime and read per-query at stream start), which is also how
    * RocksDBStateSpec drives this path against the shared test session. */
  val rocksdbConfs: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" -> RocksDbProvider,
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true")
}
