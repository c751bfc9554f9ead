package graft.spark.catalyst

import graft.core.SketchCodec
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One sketch aggregate's buffer: empty, or the sketch as the codec blob
  * it arrived in, or the sketch decoded. A buffer holds a blob only while
  * nothing has changed it; serializing it returns the blob itself when
  * the blob is canonical (the bytes the current encoder writes for that
  * state, SketchCodec.isCanonical). */
final class SketchBuffer[S <: AnyRef] private[catalyst] (
    private[catalyst] var bytes: Array[Byte],
    private[catalyst] var state: S) {
  /** `bytes` has been found canonical: it passes without a second check. */
  private[catalyst] var canonical: Boolean = false
  def isEmpty: Boolean = bytes == null && state == null
}

/** The buffer lifecycle every sketch aggregate shares. A sketch's state
  * is a mergeable blob, so Spark's decode / merge-into-empty / encode at
  * each aggregation step is O(m) work that moves nothing for a buffer
  * nothing writes to (Agarwal et al., Mergeable Summaries: merging into
  * an empty summary returns the other summary):
  *   - create allocates nothing;
  *   - deserialize keeps the blob, undecoded;
  *   - merge into an empty buffer returns the other buffer;
  *   - update and merge decode on their first write and drop the blob;
  *   - serialize and eval return a held blob that is canonical, else
  *     decode and encode it.
  * A blob is checked when it is about to pass through, not when it
  * arrives: most blobs a final merge receives are decoded by that merge
  * anyway, which validates them, and the check of a dense filter costs
  * about twice its decode (2.16 MB, warmed: 1.8 ms against 0.8 ms; a
  * light sparse filter's check costs about 0.7 of its decode, 7 µs
  * against 10 µs). A damaged blob fails in the decoder, typed, at its
  * first write or on its way out, and is never emitted.
  * An aggregate supplies only the sketch operations below. */
abstract class SketchAggBase[S <: AnyRef] extends TypedImperativeAggregate[SketchBuffer[S]] {
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  /** An empty sketch of this aggregate's configuration. */
  protected def newSketch(): S
  /** Fold one input row into the sketch. */
  protected def insert(s: S, input: InternalRow): Unit
  /** `s` ∪ `o`; may reuse `s`. */
  protected def union(s: S, o: S): S
  protected def encode(s: S): Array[Byte]
  protected def decode(bytes: Array[Byte]): S

  /** The codec type of this aggregate's blobs (SketchCodec.TypeId). */
  protected def blobType: Byte
  /** The header fields this aggregate's encoder takes from the aggregate
    * rather than from the sketch: the Bloom variant, and the key
    * convention of Bloom, CMS and counting-Bloom blobs. */
  protected def blobVariant: Byte = 0
  protected def blobKeyMode: Byte = 0

  /** `encode(decode(bytes)) == bytes` for this aggregate's encoder,
    * checked without decoding. */
  protected def canonical(bytes: Array[Byte]): Boolean =
    SketchCodec.isCanonical(bytes) &&
      SketchCodec.isKind(bytes, blobType, blobVariant, blobKeyMode)

  /** The buffer's sketch, decoded or created on its first write. */
  protected final def sketch(b: SketchBuffer[S]): S = {
    val s = b.state
    if (s != null) s
    else {
      b.state = if (b.bytes == null) newSketch() else decode(b.bytes)
      b.bytes = null
      b.state
    }
  }

  final override def createAggregationBuffer(): SketchBuffer[S] =
    new SketchBuffer(null, null.asInstanceOf[S])

  override def update(b: SketchBuffer[S], input: InternalRow): SketchBuffer[S] = {
    insert(sketch(b), input)
    b
  }

  final override def merge(b: SketchBuffer[S], o: SketchBuffer[S]): SketchBuffer[S] =
    if (b.isEmpty) o
    else {
      if (!o.isEmpty) b.state = union(sketch(b), sketch(o))
      b
    }

  /** Whether `b` holds a canonical blob; the verdict is kept with the
    * blob, so a blob is checked once however often it is serialized. */
  private def passes(b: SketchBuffer[S]): Boolean = b.bytes != null && {
    if (!b.canonical) b.canonical = canonical(b.bytes)
    b.canonical
  }

  override def serialize(b: SketchBuffer[S]): Array[Byte] =
    if (passes(b)) b.bytes else encode(sketch(b))

  override def eval(b: SketchBuffer[S]): Any = serialize(b)

  /** `b`, its held blob checked now: passed when canonical, else decoded,
    * so a damaged blob fails here, typed, instead of at a later write. */
  final def checked(b: SketchBuffer[S]): SketchBuffer[S] = {
    if (b.bytes != null && !passes(b)) sketch(b)
    b
  }

  override def deserialize(bytes: Array[Byte]): SketchBuffer[S] =
    new SketchBuffer(bytes, null.asInstanceOf[S])
}

object SketchAggBase {
  /** A numeric column value as the quantile sketches' double. */
  def numeric(v: Any): Double = v match {
    case d: java.lang.Double => d.doubleValue()
    case f: java.lang.Float => f.doubleValue()
    case l: java.lang.Long => l.doubleValue()
    case i: java.lang.Integer => i.doubleValue()
    case x => x.toString.toDouble
  }

  /** A string or binary key value as its bytes. */
  def keyBytes(v: Any): Array[Byte] = v match {
    case s: UTF8String => s.getBytes
    case a: Array[Byte] => a
  }

  def stringOrBinaryKey(name: String, key: Expression): TypeCheckResult = key.dataType match {
    case StringType | BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$name takes a string or binary key column, got ${other.catalogString}")
  }
}
