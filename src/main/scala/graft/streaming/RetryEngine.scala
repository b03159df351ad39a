package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Retry-count state machine + backoff schedule — the Spark translation of
  * the reference's RabbitMQ delay-queue machinery (SURVEY.md §2.7 E3-E5).
  *
  * Instead of per-message TTL queues, a retried record is written to the
  * entity's retry topic with `retryCount` decremented and `nextAttemptAt`
  * stamped; the retry-reader query due-filters each trigger
  * (`current_timestamp() >= nextAttemptAt`) — retry latency is quantized to
  * the trigger interval, which is the documented semantic trade
  * (SURVEY §7.3.2). Everything here is pure Column arithmetic: it runs
  * inside whole-stage codegen with no per-row JVM calls, and the same
  * formulas back the oracle query q25_backoff_schedule.
  */
object RetryEngine {

  /** Scala-side backoff for tests/property checks — exponential timeout
    * formula (2^n − 1) × queueTimeoutMs with the exponent derived as
    * max(1, min(25, count) − remaining) (messaging/producer.clj:175-204). */
  def exponentialTimeoutMs(cfg: RetryConfig, remainingCount: Int): Long = {
    val exponent = math.max(1,
      math.min(EngineConfig.MaxExponentialRetries, cfg.count) - remainingCount)
    ((math.pow(2, exponent.toDouble) - 1) * cfg.queueTimeoutMs).toLong
  }

  def timeoutMs(cfg: RetryConfig, remainingCount: Int): Long =
    cfg.backoffType match {
      case BackoffType.Linear => cfg.queueTimeoutMs
      case BackoffType.Exponential => exponentialTimeoutMs(cfg, remainingCount)
    }

  /** Column form of the remaining-count transition
    * (messaging/producer.clj:288-293): null → count−1, pos → dec. Records
    * with remaining 0 must be routed to the DLQ *before* this transition —
    * see [[exhaustedCol]]. */
  def decrementedCount(cfg: RetryConfig, retryCount: Column): Column =
    when(retryCount.isNull, lit(cfg.count - 1)).otherwise(retryCount - 1)

  /** Column form of the backoff timeout in ms for a record whose (pre-
    * transition) remaining count is `retryCount` (null = first failure). */
  def timeoutMsCol(cfg: RetryConfig, retryCount: Column): Column =
    cfg.backoffType match {
      case BackoffType.Linear => lit(cfg.queueTimeoutMs)
      case BackoffType.Exponential =>
        val remaining = coalesce(retryCount, lit(cfg.count))
        val exponent = greatest(lit(1),
          least(lit(EngineConfig.MaxExponentialRetries), lit(cfg.count))
            - remaining)
        ((pow(lit(2.0), exponent.cast("double")) - 1.0)
          * cfg.queueTimeoutMs.toDouble).cast("long")
    }

  /** DLQ criterion for a to-retry row BEFORE the count transition (shared
    * by Dispatch's tallies and its routing projection, so counts and
    * writes cannot drift): remaining ≤ 0 — the normal exhaustion at 0,
    * plus any corrupt negative — or a FIRST failure (null count) on a
    * route with no retry budget (count ≤ 0). Without the budget clause,
    * enabled+count=0 would decrement the first failure to −1 and the
    * record would match neither destination on its next hop — vanished
    * from both the retry topic and the DLQ. Exhausted rows reach the DLQ
    * with the count restored to the configured total (producer.clj:291,
    * so a dead-set replay starts a fresh cycle). May evaluate to NULL
    * (null count with a positive budget — the retryable case); coalesce
    * at boolean sinks. */
  def exhaustedCol(cfg: RetryConfig): Column =
    col("retryCount") <= 0 ||
      (col("retryCount").isNull && lit(cfg.count <= 0))

  /** `nextAttemptAt` of a row published to the retry topic: now plus the
    * backoff for its PRE-transition count. */
  def nextAttemptCol(cfg: RetryConfig): Column =
    timestamp_millis(unix_millis(current_timestamp())
      + timeoutMsCol(cfg, col("retryCount")))

  /** Due-filter for the retry-reader query (the TTL-expiry analogue): only
    * records whose backoff has elapsed are released to reprocessing.
    *
    * `now` must be a driver-pinned literal evaluated once per micro-batch:
    * [[due]] and [[notDue]] then partition the batch exactly, however far
    * apart their Spark jobs actually run. Evaluating `current_timestamp()`
    * independently in each job opens a race where a record whose
    * `nextAttemptAt` falls between the two job starts is both requeued and
    * dispatched (duplicate processing). Both are plain map-side filters —
    * no shuffle, unlike an `exceptAll` complement. */
  def due(batch: DataFrame, now: Column): DataFrame =
    batch.filter(col("nextAttemptAt").isNull || col("nextAttemptAt") <= now)

  /** Exact complement of [[due]] under the same pinned `now`. */
  def notDue(batch: DataFrame, now: Column): DataFrame =
    batch.filter(col("nextAttemptAt").isNotNull && col("nextAttemptAt") > now)

  /** A driver-pinned "now" literal for one micro-batch's due/notDue split. */
  def pinnedNow(): Column =
    lit(new java.sql.Timestamp(System.currentTimeMillis()))
}
