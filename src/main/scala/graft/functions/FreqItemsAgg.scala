package graft.functions

import org.apache.datasketches.frequencies.{ErrorType, ItemsSketch}
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Mergeable frequent-items (heavy-hitters) sketch — the third leg of the
  * sketch surface next to HLL (a06) and KLL-style quantiles (a10), built on
  * the DataSketches `ItemsSketch` (Misra-Gries family) that ships with
  * Spark's jars.
  *
  * Why a sketch when t05 computes exact top-k: the exact aggregate's
  * shuffle carries one row per distinct key per partition — fine for
  * bigrams, ruinous for, say, (user, url) pairs with billions of distinct
  * keys. The sketch bounds memory at `maxMapSize` entries per partition
  * and merges associatively, so the shuffle carries one ~KB buffer per
  * partition regardless of cardinality.
  *
  * Guarantee (spec-gated, not oracle-gated): with NO_FALSE_NEGATIVES,
  * every item whose true count exceeds `getMaximumError` appears in the
  * result — eviction order makes the *estimates* run-dependent (which is
  * why this is library surface with a ScalaTest contract, not a declared
  * oracle query; the oracle-facing exact twin is t05), but the containment
  * guarantee holds on every run. At corpus scale the pattern is: sketch
  * pass → candidate set → exact confirm of candidates only (same
  * bloom-then-confirm discipline as p08).
  *
  * Buffer transport is Kryo over the LIVE sketch object (the practical
  * choice for a typed Aggregator: per-row compact-serde would pay an
  * O(sketch) round-trip per update). That means shuffle/spill bytes are
  * the field-serialized hash map at capacity, NOT the compact
  * `toByteArray` form.
  */
final class FreqItemsAgg(maxMapSize: Int)
    extends Aggregator[String, ItemsSketch[String], Map[String, Long]] {

  // Live sketch object as the buffer (see ThetaSketchAgg): Spark's typed
  // aggregation keeps buffers as objects between rows, so update cost is
  // the sketch's own O(1) amortized insert instead of a full
  // serialize/deserialize round-trip per row.
  override def zero: ItemsSketch[String] = new ItemsSketch[String](maxMapSize)

  override def reduce(buf: ItemsSketch[String], item: String)
      : ItemsSketch[String] = {
    buf.update(item)
    buf
  }

  override def merge(a: ItemsSketch[String], b: ItemsSketch[String])
      : ItemsSketch[String] = a.merge(b)

  /** item → estimated count, NO_FALSE_NEGATIVES: a superset of every item
    * with true count > maximum error. */
  override def finish(buf: ItemsSketch[String]): Map[String, Long] =
    buf.getFrequentItems(ErrorType.NO_FALSE_NEGATIVES)
      .map(r => r.getItem -> r.getEstimate).toMap

  override def bufferEncoder: Encoder[ItemsSketch[String]] =
    Encoders.kryo[ItemsSketch[String]]
  override def outputEncoder: Encoder[Map[String, Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
}
