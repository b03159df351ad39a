package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardOpenOption}

/** Dead-set management (E6, messaging/dead_set.clj:6-28 + HTTP
  * resource/dead_set.clj:46-94): view / replay / delete the first N dead
  * messages.
  *
  * A Kafka log can't delete records, so the imperative queue ops become a
  * committed-offset marker per entity (SURVEY §4.2 "custom, small"): the
  * live dead-set is every DLQ record with offset > marker.
  *   view N    → bounded batch read, no marker change (RMQ peek-no-ack)
  *   delete N  → advance the marker past the first N
  *   replay N  → append the first N to the instant topic, then advance
  * The marker is a tiny text file beside the topic dir (driver-side state,
  * like a checkpoint); all record reads are distributed Spark scans with the
  * offset predicate pushed to parquet/Kafka.
  */
final class DeadSet(topics: TopicIO, markerDir: String) {

  /** Per-entity lock serializing the marker read-modify-write in
    * [[delete]]/[[replay]]. Without it two concurrent replays of the same
    * N both read the old marker, both publish, and the dead messages are
    * processed twice. The reference has the same race — its HTTP replay
    * runs in an async future (resource/dead_set.clj:54,:87) with no
    * coordination; correctness must not depend on the HTTP layer's
    * threading. */
  private val entityLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(entity: String): Object =
    entityLocks.computeIfAbsent(entity, _ => new Object)

  private def markerPath(entity: String) =
    Paths.get(s"$markerDir/${entity}_dlq_marker")

  /** Acked-offset floor PER PARTITION: Kafka offsets are ordered only
    * within a partition, so one global marker on a multi-partition DLQ
    * topic would ack records of one partition by an offset observed on
    * another — hiding unacked records or re-exposing acked ones. The
    * marker file holds `partition:offset` lines; the `*:offset` line is
    * the global floor. Any other line is damage and fails loudly, naming
    * the marker: guessing a floor would hide or re-expose records. */
  def markers(entity: String): Map[Int, Long] =
    // under the entity lock: writeMarkers' rename is atomic against
    // crashes, but the lock also orders reads against a concurrent
    // delete/replay so a view never observes a floor mid-advance
    lockFor(entity).synchronized {
      val path = markerPath(entity)
      if (!Files.exists(path)) Map.empty
      else new String(Files.readAllBytes(path))
        .split("\n").map(_.trim).filter(_.nonEmpty).map { l =>
          (l.split(":", 2) match {
            case Array(pt, off) => (if (pt == "*") Some(-1)
              else pt.toIntOption).zip(off.toLongOption)
            case _ => None
          }).getOrElse(throw new IllegalStateException(
            s"dead-set marker $path has a line that is not " +
              s"partition:offset: '$l'"))
        }.toMap
    }

  /** The global floor (`*:offset`), for operational introspection. */
  def marker(entity: String): Long = markers(entity).getOrElse(-1, -1L)

  private def writeMarkers(entity: String, m: Map[Int, Long]): Unit = {
    Files.createDirectories(markerPath(entity).getParent)
    val body = m.toSeq.sortBy(_._1).map { case (pt, off) =>
      s"${if (pt == -1) "*" else pt.toString}:$off"
    }.mkString("\n")
    // never truncate-then-write in place: a crash (or a reader on
    // another JVM) mid-write would leave/see a torn marker — a partial
    // line like "3:" poisons every subsequent parse until an operator
    // hand-edits the file. Write a sibling temp file and rename it in
    // (atomic on POSIX; the ack floor is either old or new, never torn).
    val path = markerPath(entity)
    val tmp = path.resolveSibling(s"${path.getFileName}.tmp")
    Files.write(tmp, body.getBytes,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING,
      StandardOpenOption.WRITE)
    Files.move(tmp, path, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Advance the acked floor of each partition present in `acked`
    * (monotone: an existing higher floor is kept). */
  private def advanceMarkers(entity: String,
      acked: Seq[(Int, Long)]): Unit = {
    val cur = markers(entity)
    val next = acked.groupBy(_._1).map { case (pt, xs) =>
      pt -> math.max(xs.map(_._2).max, cur.getOrElse(pt, -1L))
    }
    writeMarkers(entity, cur ++ next)
  }

  private def live(spark: SparkSession, entity: String): DataFrame = {
    val ms = markers(entity)
    val global = ms.getOrElse(-1, -1L)
    val floor = (ms - (-1)).foldLeft(lit(global)) { case (acc, (pt, off)) =>
      when(col("partition") === pt, lit(math.max(off, global)))
        .otherwise(acc)
    }
    topics.readExact(spark, EngineConfig.deadLetterTopic(entity))
      .filter(col("offset") > floor)
      .orderBy(col("offset"), col("partition"))
  }

  /** Peek first `n` without acking (GET /v1/dead_set). */
  def view(spark: SparkSession, entity: String, n: Int): DataFrame =
    live(spark, entity).limit(n)

  /** Drop first `n` (DELETE /v1/dead_set): advance the marker only. */
  def delete(spark: SparkSession, entity: String, n: Int): Long =
    lockFor(entity).synchronized {
      val acked = view(spark, entity, n)
        .select(col("partition"), col("offset")).collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSeq
      if (acked.nonEmpty) advanceMarkers(entity, acked)
      acked.length.toLong
    }

  /** Re-publish first `n` to the entity's instant topic for reprocessing,
    * then ack them (POST /v1/dead_set/replay). Replayed records start a
    * FRESH retry cycle: retryCount is reset here, not trusted from the
    * DLQ record — the exhausted path restores it (RetryEngine), but a
    * direct `dead_letter` disposition from a handler writes the record
    * with its RESIDUAL count (possibly 0), and replaying that residue
    * would re-dead-letter the record on its first failure instead of
    * giving it the full budget the replay operator expects. */
  def replay(spark: SparkSession, entity: String, n: Int): Long =
    lockFor(entity).synchronized {
      val batch = view(spark, entity, n).cache()
      try {
        val acked = batch.select(col("partition"), col("offset")).collect()
          .map(r => (r.getInt(0), r.getLong(1))).toSeq
        if (acked.nonEmpty) {
          topics.append(batch
            .withColumn("retryCount", lit(null).cast("int"))
            .withColumn("nextAttemptAt", lit(null).cast("timestamp")),
            EngineConfig.instantTopic(entity))
          advanceMarkers(entity, acked)
        }
        acked.length.toLong
      } finally batch.unpersist()
    }
}
