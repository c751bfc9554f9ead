package graft.spark.catalyst

import graft.core._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{BinaryType, DataType}

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
  extends SketchAggBase[SketchMergeAgg.Holder] {

  import SketchMergeAgg.Holder

  override def children: Seq[Expression] = Seq(blob)
  override def prettyName: String = "graft_sketch_merge_agg"
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def createAggregationBuffer(): Holder = new Holder

  override def update(b: Holder, input: InternalRow): Holder = {
    val v = blob.eval(input)
    if (v != null) b.merge(v.asInstanceOf[Array[Byte]])
    b
  }

  override def merge(b: Holder, o: Holder): Holder = b.merge(o)

  override def eval(b: Holder): Any = b.encoded.orNull

  override def serialize(b: Holder): Array[Byte] =
    b.encoded.getOrElse(Array.emptyByteArray)

  override def deserialize(bytes: Array[Byte]): Holder = {
    val h = new Holder
    if (bytes.nonEmpty) h.merge(bytes)
    h
  }

  override def withNewMutableAggBufferOffset(o: Int): SketchMergeAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SketchMergeAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): SketchMergeAgg =
    copy(blob = c.head)
}

object SketchMergeAgg {

  /** Running merged sketch, typed by the first blob seen. */
  final class Holder {
    private var typeId: Byte = -1
    private var keyMode: Byte = 0
    private var sketch: AnyRef = _

    /** Union one codec blob in; the decoded sketch is owned by this holder. */
    def merge(bytes: Array[Byte]): Unit = {
      val t = SketchCodec.typeOf(bytes)
      val (km, decoded): (Byte, AnyRef) = t match {
        case SketchCodec.TypeId.Bloom =>
          (SketchCodec.bloomKeyMode(bytes), SketchCodec.decodeBloom(bytes))
        case SketchCodec.TypeId.Hll => (0, SketchCodec.decodeHll(bytes))
        case SketchCodec.TypeId.Cms =>
          (SketchCodec.cmsKeyMode(bytes), SketchCodec.decodeCms(bytes))
        case SketchCodec.TypeId.TDigest => (0, SketchCodec.decodeTDigest(bytes))
        case SketchCodec.TypeId.Kll => (0, SketchCodec.decodeKll(bytes))
        case SketchCodec.TypeId.Theta => (0, SketchCodec.decodeTheta(bytes))
        case SketchCodec.TypeId.BottomK => (0, SketchCodec.decodeBottomK(bytes))
        case SketchCodec.TypeId.Mg => (0, SketchCodec.decodeMg(bytes))
        case SketchCodec.TypeId.WeightedBottomK =>
          (0, SketchCodec.decodeWeightedBottomK(bytes))
        case SketchCodec.TypeId.CountingBloom =>
          (SketchCodec.countingBloomKeyMode(bytes), SketchCodec.decodeCountingBloom(bytes))
        case other => throw new IllegalArgumentException(s"unknown sketch type $other")
      }
      if (sketch == null) { typeId = t; keyMode = km; sketch = decoded }
      else union(t, km, decoded)
    }

    /** Union another holder's sketch in without a codec round-trip and
      * return the merged holder. An empty holder returns `o` itself:
      * Spark keeps whatever `merge` returns as the buffer, and `o` is a
      * freshly deserialized buffer that is dropped after the merge. */
    def merge(o: Holder): Holder =
      if (sketch == null) o
      else {
        if (o.sketch != null) union(o.typeId, o.keyMode, o.sketch)
        this
      }

    private def union(t: Byte, km: Byte, other: AnyRef): Unit = {
      require(t == typeId, s"cannot merge sketch type $t into $typeId")
      t match {
        case SketchCodec.TypeId.Bloom =>
          require(km == keyMode,
            "cannot merge Bloom sketches built with different key conventions")
          sketch.asInstanceOf[BloomSketch].unionInPlace(other.asInstanceOf[BloomSketch])
        case SketchCodec.TypeId.Hll =>
          sketch.asInstanceOf[HLLSketch].mergeInPlace(other.asInstanceOf[HLLSketch])
        case SketchCodec.TypeId.Cms =>
          require(km == keyMode,
            "cannot merge CMS sketches built with different key conventions")
          sketch.asInstanceOf[CMSSketch].mergeInPlace(other.asInstanceOf[CMSSketch])
        case SketchCodec.TypeId.TDigest =>
          sketch.asInstanceOf[TDigestSketch].mergeInPlace(other.asInstanceOf[TDigestSketch])
        case SketchCodec.TypeId.Kll =>
          sketch.asInstanceOf[KLLSketch].mergeInPlace(other.asInstanceOf[KLLSketch])
        case SketchCodec.TypeId.Theta =>
          sketch.asInstanceOf[ThetaSketch].mergeInPlace(other.asInstanceOf[ThetaSketch])
        case SketchCodec.TypeId.BottomK =>
          sketch.asInstanceOf[BottomKSketch].mergeInPlace(other.asInstanceOf[BottomKSketch])
        case SketchCodec.TypeId.Mg =>
          sketch.asInstanceOf[MGSketch].mergeInPlace(other.asInstanceOf[MGSketch])
        case SketchCodec.TypeId.WeightedBottomK =>
          sketch.asInstanceOf[WeightedBottomKSketch]
            .mergeInPlace(other.asInstanceOf[WeightedBottomKSketch])
        case SketchCodec.TypeId.CountingBloom =>
          require(km == keyMode,
            "cannot merge counting filters built with different key conventions")
          // per-cell saturating add — associative + commutative, so the
          // counting filter is in the bit-identity club alongside Bloom
          sketch.asInstanceOf[CountingBloomSketch]
            .mergeInPlace(other.asInstanceOf[CountingBloomSketch])
      }
    }

    def encoded: Option[Array[Byte]] = Option(sketch).map { s =>
      typeId match {
        case SketchCodec.TypeId.Bloom => SketchCodec.encodeBloom(s.asInstanceOf[BloomSketch], keyMode)
        case SketchCodec.TypeId.Hll => SketchCodec.encodeHll(s.asInstanceOf[HLLSketch])
        case SketchCodec.TypeId.Cms => SketchCodec.encodeCms(s.asInstanceOf[CMSSketch], keyMode)
        case SketchCodec.TypeId.TDigest => SketchCodec.encodeTDigest(s.asInstanceOf[TDigestSketch])
        case SketchCodec.TypeId.Kll => SketchCodec.encodeKll(s.asInstanceOf[KLLSketch])
        case SketchCodec.TypeId.Theta => SketchCodec.encodeTheta(s.asInstanceOf[ThetaSketch])
        case SketchCodec.TypeId.BottomK => SketchCodec.encodeBottomK(s.asInstanceOf[BottomKSketch])
        case SketchCodec.TypeId.Mg => SketchCodec.encodeMg(s.asInstanceOf[MGSketch])
        case SketchCodec.TypeId.WeightedBottomK =>
          SketchCodec.encodeWeightedBottomK(s.asInstanceOf[WeightedBottomKSketch])
        case SketchCodec.TypeId.CountingBloom =>
          SketchCodec.encodeCountingBloom(s.asInstanceOf[CountingBloomSketch], keyMode)
      }
    }
  }
}
