package graft.spark

import graft.core._
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

// The two sketch builds with no native Catalyst aggregate, as udaf
// Aggregators over canonical key bytes (functions.sketchKey; null keys
// skipped): `reduce` is the reference's insert loop
// (km_bloom_filter.rs:308–318), `merge` its union (184–194). Buffers are
// kryo-encoded only when they cross the wire.

/** Per-index seeded Bloom filter (the reference's `SeededBloomFilter`). */
class SeededBloomAggregator(capacity: Long, fpp: Double)
    extends Aggregator[Array[Byte], SeededBloomSketch, Array[Byte]] {
  override def zero: SeededBloomSketch = SeededBloomSketch(capacity, fpp)
  override def reduce(b: SeededBloomSketch, key: Array[Byte]): SeededBloomSketch = {
    if (key != null) b.insert(key)
    b
  }
  override def merge(a: SeededBloomSketch, b: SeededBloomSketch): SeededBloomSketch =
    a.unionInPlace(b)
  override def finish(b: SeededBloomSketch): Array[Byte] = SketchCodec.encodeBloom(b)
  override def bufferEncoder: Encoder[SeededBloomSketch] = Encoders.kryo[SeededBloomSketch]
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}

/** Counting-Bloom aggregation over a SIGNED stream: rows are
  * (key, multiplicity) with multiplicity > 0 for inserts and < 0 for
  * retractions (the CDC/upsert-feed shape). Inserts and retractions
  * accumulate into two separate counting filters — each a commutative
  * monoid under saturating per-cell add, so partial/final merges are
  * legal in any tree order and a retraction seen BEFORE its insert
  * (routine across partitions) can never floor a cell — and the net
  * filter is computed once at finish via floored subtraction
  * (CountingBloomSketch.subtractInPlace). Exact (and collapse-to-bit
  * filter bit-exact) whenever no cell accumulates 255 hits on either
  * side. */
class CbfAggregator(capacity: Long, fpp: Double,
    hashers: KMHashPair = KMHashPair.XxMurmur)
    extends Aggregator[(Array[Byte], Long), (CountingBloomSketch, CountingBloomSketch), Array[Byte]] {
  override def zero: (CountingBloomSketch, CountingBloomSketch) =
    (CountingBloomSketch(capacity, fpp, hashers), CountingBloomSketch(capacity, fpp, hashers))
  override def reduce(b: (CountingBloomSketch, CountingBloomSketch),
      row: (Array[Byte], Long)): (CountingBloomSketch, CountingBloomSketch) = {
    val (key, mult) = row
    if (key != null && mult != 0L) {
      val target = if (mult > 0L) b._1 else b._2
      // hash the key ONCE — repeated insert(key) would re-run both base
      // hashes per multiplicity step. The loop is also capped at 255:
      // cells saturate there, so iteration n>255 is a provable no-op
      // (any touched cell is already 255 either way), and the cap makes
      // a pathological multiplicity (10^12, or Long.MinValue whose abs
      // is negative) finite instead of a hang.
      val h1 = target.hashers.h1(key)
      val h2 = target.hashers.h2(key)
      var i = 0L
      val n = math.min(255L, if (mult > 0L) mult else -math.max(mult, -255L))
      while (i < n) { target.insertHashes(h1, h2); i += 1 }
    }
    b
  }
  override def merge(a: (CountingBloomSketch, CountingBloomSketch),
      b: (CountingBloomSketch, CountingBloomSketch)): (CountingBloomSketch, CountingBloomSketch) =
    (a._1.mergeInPlace(b._1), a._2.mergeInPlace(b._2))
  override def finish(b: (CountingBloomSketch, CountingBloomSketch)): Array[Byte] =
    SketchCodec.encodeCountingBloom(b._1.subtractInPlace(b._2))
  override def bufferEncoder: Encoder[(CountingBloomSketch, CountingBloomSketch)] =
    Encoders.kryo[(CountingBloomSketch, CountingBloomSketch)]
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}
