package graft.spark.catalyst

import graft.core._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression

/** Second-level sketch aggregation: fold a COLUMN OF SKETCH BLOBS into
  * one blob. This is the piece that makes sketch TABLES composable inside
  * Spark itself (no driver-side reduce):
  *
  *   - hierarchical rollup:  per-shard sketches → global sketch in SQL;
  *   - skew salting, two-stage: groupBy(key, salt).agg(hll_agg(...)) →
  *     groupBy(key).agg(sketch_merge_agg(sketch)) — the hot key's rows
  *     spread over `salt` reducers in stage 1, stage 2 merges tiny blobs;
  *   - incremental pipelines: yesterday's checkpoint blobs ∪ today's.
  *
  * Works for every codec type (sniffs the type byte); inputs must be
  * merge-compatible (same config / k / precision / shape — enforced by
  * the kernel exactly as the reference panics on config mismatch,
  * km_bloom_filter.rs:185–187). Bloom/CMS key conventions are preserved
  * and must match across inputs.
  */
case class SketchMergeAgg(
    blob: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchAggBase[SketchMergeAgg.Typed] {

  import SketchMergeAgg.Typed

  override def children: Seq[Expression] = Seq(blob)
  override def prettyName: String = "graft_sketch_merge_agg"
  override def nullable: Boolean = true

  // the first blob types the buffer: an empty one has no sketch to make
  override protected def newSketch(): Typed =
    throw new IllegalStateException("an empty sketch merge has no type")

  override protected def insert(s: Typed, input: InternalRow): Unit =
    throw new IllegalStateException("sketch merge folds blobs, not rows")

  /** Union one codec blob in; an empty buffer takes the blob as it is. */
  override def update(b: SketchBuffer[Typed], input: InternalRow): SketchBuffer[Typed] = {
    val v = blob.eval(input)
    if (v == null) b else merge(b, super.deserialize(v.asInstanceOf[Array[Byte]]))
  }

  override protected def decode(bytes: Array[Byte]): Typed =
    Typed(SketchCodec.typeOf(bytes), SketchCodec.keyModeOf(bytes), SketchCodec.decode(bytes))

  // a blob of any codec type passes through: the first blob types the
  // buffer, so canonical asks for no particular kind
  override protected def blobType: Byte = -1
  override protected def canonical(bytes: Array[Byte]): Boolean = SketchCodec.isCanonical(bytes)

  override protected def union(s: Typed, o: Typed): Typed = {
    require(o.typeId == s.typeId, s"cannot merge sketch type ${o.typeId} into ${s.typeId}")
    val (mine, other) = (s.sketch, o.sketch)
    s.typeId match {
      case SketchCodec.TypeId.Bloom =>
        require(o.keyMode == s.keyMode,
          "cannot merge Bloom sketches built with different key conventions")
        mine.asInstanceOf[BloomSketch].unionInPlace(other.asInstanceOf[BloomSketch])
      case SketchCodec.TypeId.Hll =>
        mine.asInstanceOf[HLLSketch].mergeInPlace(other.asInstanceOf[HLLSketch])
      case SketchCodec.TypeId.Cms =>
        require(o.keyMode == s.keyMode,
          "cannot merge CMS sketches built with different key conventions")
        mine.asInstanceOf[CMSSketch].mergeInPlace(other.asInstanceOf[CMSSketch])
      case SketchCodec.TypeId.TDigest =>
        mine.asInstanceOf[TDigestSketch].mergeInPlace(other.asInstanceOf[TDigestSketch])
      case SketchCodec.TypeId.Kll =>
        mine.asInstanceOf[KLLSketch].mergeInPlace(other.asInstanceOf[KLLSketch])
      case SketchCodec.TypeId.Theta =>
        mine.asInstanceOf[ThetaSketch].mergeInPlace(other.asInstanceOf[ThetaSketch])
      case SketchCodec.TypeId.BottomK =>
        mine.asInstanceOf[BottomKSketch].mergeInPlace(other.asInstanceOf[BottomKSketch])
      case SketchCodec.TypeId.Mg =>
        mine.asInstanceOf[MGSketch].mergeInPlace(other.asInstanceOf[MGSketch])
      case SketchCodec.TypeId.WeightedBottomK =>
        mine.asInstanceOf[WeightedBottomKSketch]
          .mergeInPlace(other.asInstanceOf[WeightedBottomKSketch])
      case SketchCodec.TypeId.CountingBloom =>
        require(o.keyMode == s.keyMode,
          "cannot merge counting filters built with different key conventions")
        // per-cell saturating add — associative + commutative, so the
        // counting filter is in the bit-identity club alongside Bloom
        mine.asInstanceOf[CountingBloomSketch]
          .mergeInPlace(other.asInstanceOf[CountingBloomSketch])
    }
    s
  }

  override protected def encode(s: Typed): Array[Byte] = SketchCodec.encode(s.sketch, s.keyMode)

  // an empty merge crosses the shuffle as zero bytes and evaluates to null
  override def serialize(b: SketchBuffer[Typed]): Array[Byte] =
    if (b.isEmpty) Array.emptyByteArray else super.serialize(b)

  override def eval(b: SketchBuffer[Typed]): Any = if (b.isEmpty) null else super.serialize(b)

  override def deserialize(bytes: Array[Byte]): SketchBuffer[Typed] =
    if (bytes.isEmpty) createAggregationBuffer() else super.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): SketchMergeAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SketchMergeAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): SketchMergeAgg =
    copy(blob = c.head)
}

object SketchMergeAgg {
  /** A decoded sketch of any codec type, with the key convention its
    * blob carried (the decoded Bloom/CMS/counting sketch does not). */
  final case class Typed(typeId: Byte, keyMode: Byte, sketch: AnyRef)
}
