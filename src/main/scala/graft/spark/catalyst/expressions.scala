package graft.spark.catalyst

import graft.core._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst sketch aggregates — the one aggregation surface.
  *
  * Keys are hashed straight from the raw Catalyst values in the
  * InternalRow, exactly how Spark's own `xxhash64`/`hash` expressions walk
  * their children. The byte-key builders of graft.spark.functions are the
  * same aggregates over ONE binary `sketchKey` column — a single
  * non-nullable [[SketchKey]] expression that writes the key bytes once,
  * compiled into the aggregate's key projection, so the null-key FILTER
  * folds away. RowHasher folds a single BINARY child to exactly the
  * kernels' `hashers.h1/h2(bytes)` and `xxHash64(bytes, 0)`, so those
  * blobs equal a core bulk insert of the bytes. Every aggregate's buffer
  * is a [[SketchBuffer]] (SketchBuffer.scala): a blob that arrives from
  * the shuffle or the state store is held as it came and passes through
  * to the next serialize or eval unchanged unless a row or a merge writes
  * to it; only then is it decoded, and only a changed sketch is encoded.
  *
  * Hash-convention note: Bloom and CMS blobs carry the aggregate's
  * `keyMode` (KeyMode.Bytes or KeyMode.RowHash) in the codec header; each
  * probe surface refuses the other convention — the two are not
  * bit-compatible, and mixing them would silently violate the
  * zero-false-negative contract.
  */
object RowHasher {
  /** Null marker folded into the hash chain (also embedded as a literal
    * in BloomMightContain's generated code). */
  final val NullTagValue = 0x9E3779B97F4A7C15L
  private final val NullTag = NullTagValue

  /** Chained per-child hashing with an INJECTED registered pair: (h1, h2)
    * start at the pair's (seed1, seed2) and fold each child's value
    * through (algo1, algo2) — the native-path twin of the reference's
    * `KMBloomFilter<H1, H2>` genericity (km_bloom_filter.rs:46–48). The
    * default pair reproduces the original hardwired (xxHash64,
    * murmur3_64) chain bit-for-bit. Returns (h1, h2). */
  def hashPair(children: Seq[Expression], row: InternalRow,
      pair: RegisteredKMHashPair): (Long, Long) =
    fold(children, row, pair.algo1, pair.seed1, pair.algo2, pair.seed2)

  /** Single 64-bit hash (the HLL/theta/CMS item hash): h1 of the default
    * pair, folded alone — the pair's second algorithm never runs. */
  def hash64(children: Seq[Expression], row: InternalRow): Long =
    fold(children, row, KMHashPair.XxMurmur.algo1, KMHashPair.XxMurmur.seed1, null, 0L)._1

  /** Each child's value becomes bytes (strings, binary, anything else
    * via its string form) or one long (integral, boolean, float bits,
    * the null tag), folded through `a1` and, unless null, `a2`. */
  private def fold(children: Seq[Expression], row: InternalRow,
      a1: HashAlgo, seed1: Long, a2: HashAlgo, seed2: Long): (Long, Long) = {
    var h1 = seed1
    var h2 = seed2
    var i = 0
    while (i < children.length) {
      val e = children(i)
      val v = e.eval(row)
      var b: Array[Byte] = null
      var l = NullTag
      if (v != null) e.dataType match {
        case StringType => b = v.asInstanceOf[UTF8String].getBytes
        case BinaryType => b = v.asInstanceOf[Array[Byte]]
        case LongType | IntegerType | ShortType | ByteType | DateType |
            TimestampType | TimestampNTZType =>
          l = v match {
            case x: java.lang.Long => x.longValue()
            case x: java.lang.Integer => x.longValue()
            case x: java.lang.Short => x.longValue()
            case x: java.lang.Byte => x.longValue()
            case x => x.toString.toLong
          }
        case BooleanType => l = if (v.asInstanceOf[Boolean]) 1L else 0L
        case DoubleType => l = java.lang.Double.doubleToLongBits(v.asInstanceOf[Double])
        case FloatType =>
          l = java.lang.Double.doubleToLongBits(v.asInstanceOf[Float].toDouble)
        case _ => b = UTF8String.fromString(v.toString).getBytes
      }
      if (b != null) {
        h1 = a1(b, h1)
        if (a2 != null) h2 = a2(b, h2)
      } else {
        h1 = a1.hashLong(l, h1)
        if (a2 != null) h2 = a2.hashLong(l, h2)
      }
      i += 1
    }
    (h1, h2)
  }
}

/** Aggregates over a tuple of key columns. Bound column references are
  * read straight from the input row; computed keys (functions.sketchKey)
  * go through one generated projection instead of interpreted `eval` per
  * row. */
abstract class KeyedSketchAgg[S <: AnyRef] extends SketchAggBase[S] {
  def keys: Seq[Expression]
  override def children: Seq[Expression] = keys

  @transient private lazy val projection: MutableProjection =
    if (keys.forall(_.isInstanceOf[BoundReference])) null
    else MutableProjection.create(keys)

  /** The expressions RowHasher folds over [[keyRow]]. */
  @transient protected lazy val hashedKeys: IndexedSeq[Expression] =
    if (projection == null) keys.toIndexedSeq
    else keys.zipWithIndex.map { case (k, i) => BoundReference(i, k.dataType, k.nullable) }
      .toIndexedSeq

  protected def keyRow(input: InternalRow): InternalRow =
    if (projection == null) input else projection(input)

  /** KeyMode.Bytes hashes exactly one BINARY child, so its blobs equal a
    * core bulk insert of those bytes (the byte-key probes' contract). */
  protected def checkKeys(keyMode: Byte): TypeCheckResult =
    if (keyMode != SketchCodec.KeyMode.Bytes || keys.map(_.dataType) == Seq(BinaryType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName in byte-key mode takes exactly one binary key column, got " +
        keys.map(_.dataType.catalogString).mkString("(", ", ", ")"))
}

/** §2.1 #1–#12 as one Catalyst aggregate: zero = construct, update =
  * insert (KM double hashing), merge = union, eval = codec bytes.
  * `hasherId` selects the registered KM hash pair — the production-path
  * analogue of the reference's `KMBloomFilter<H1, H2>::new`
  * (km_bloom_filter.rs:46–48); the id travels in the codec header, so
  * cross-pair merges are rejected and probes verify the pair. `keyMode`
  * is the codec's key-convention tag: KeyMode.Bytes (one binary key,
  * functions.bloomAgg) or KeyMode.RowHash (any key tuple). */
case class BloomSketchAgg(
    keys: Seq[Expression],
    capacity: Long,
    fpp: Double,
    hasherId: Byte = 0,
    keyMode: Byte = SketchCodec.KeyMode.RowHash,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends KeyedSketchAgg[KMBloomSketch] {

  override def prettyName: String = "graft_bloom_agg"
  override def checkInputDataTypes(): TypeCheckResult = checkKeys(keyMode)

  @transient private lazy val pair = KMHashPair.byId(hasherId)

  override protected def newSketch(): KMBloomSketch = KMBloomSketch(capacity, fpp, pair)
  override protected def blobType: Byte = SketchCodec.TypeId.Bloom
  override protected def blobVariant: Byte = BloomVariant.KM
  override protected def blobKeyMode: Byte = keyMode
  override protected def insert(s: KMBloomSketch, input: InternalRow): Unit = {
    val (h1, h2) = RowHasher.hashPair(hashedKeys, keyRow(input), pair)
    s.insertHashes(h1, h2)
  }
  override protected def union(s: KMBloomSketch, o: KMBloomSketch): KMBloomSketch = {
    s.unionInPlace(o)
    s
  }
  override protected def encode(s: KMBloomSketch): Array[Byte] = SketchCodec.encodeBloom(s, keyMode)
  override protected def decode(bytes: Array[Byte]): KMBloomSketch =
    SketchCodec.decodeBloom(bytes).asInstanceOf[KMBloomSketch]

  override def withNewMutableAggBufferOffset(o: Int): BloomSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BloomSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): BloomSketchAgg =
    copy(keys = c)
}

/** The reference's per-index seeded Bloom filter (`SeededBloomFilter`,
  * seeded_bloom_filter.rs:13–17, 205–230) over ONE binary key
  * (functions.bloomSeededAgg): update = insert(bytes), merge = union,
  * eval = codec bytes under KeyMode.Bytes. */
case class SeededBloomSketchAgg(
    keys: Seq[Expression],
    capacity: Long,
    fpp: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends KeyedSketchAgg[SeededBloomSketch] {

  override def prettyName: String = "graft_bloom_seeded_agg"
  override def checkInputDataTypes(): TypeCheckResult = checkKeys(SketchCodec.KeyMode.Bytes)

  override protected def newSketch(): SeededBloomSketch = SeededBloomSketch(capacity, fpp)
  override protected def blobType: Byte = SketchCodec.TypeId.Bloom
  override protected def blobVariant: Byte = BloomVariant.Seeded
  override protected def insert(s: SeededBloomSketch, input: InternalRow): Unit = {
    val k = hashedKeys(0).eval(keyRow(input))
    if (k != null) s.insert(k.asInstanceOf[Array[Byte]])
  }
  override protected def union(s: SeededBloomSketch, o: SeededBloomSketch): SeededBloomSketch =
    s.unionInPlace(o)
  override protected def encode(s: SeededBloomSketch): Array[Byte] = SketchCodec.encodeBloom(s)
  override protected def decode(bytes: Array[Byte]): SeededBloomSketch =
    SketchCodec.decodeBloom(bytes).asInstanceOf[SeededBloomSketch]
  override def withNewMutableAggBufferOffset(o: Int): SeededBloomSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SeededBloomSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): SeededBloomSketchAgg =
    copy(keys = c)
}

/** Counting-Bloom aggregation over a SIGNED stream of (binary key, long
  * multiplicity): multiplicity > 0 inserts, < 0 retracts, 0 or null is
  * skipped (functions.cbfAgg). Inserts and retractions accumulate into
  * two separate counting filters — each a commutative monoid under
  * saturating per-cell add, so partial/final merges are legal in any tree
  * order and a retraction seen BEFORE its insert (routine across
  * partitions) can never floor a cell — and the net filter is computed
  * once at eval via floored subtraction (CountingBloomSketch.
  * subtractInPlace; Fan et al., "Summary Cache"). Exact (and collapse-to-
  * bit-filter bit-exact) whenever no cell accumulates 255 hits on either
  * side. The buffer crosses the shuffle as the two codec blobs,
  * length-framed, so sparse partials travel sparse. */
case class CbfSketchAgg(
    key: Expression,
    multiplicity: Expression,
    capacity: Long,
    fpp: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends KeyedSketchAgg[(CountingBloomSketch, CountingBloomSketch)] {

  private type Buf = (CountingBloomSketch, CountingBloomSketch)

  // the multiplicity rides through the same projection as the key
  override def keys: Seq[Expression] = Seq(key, multiplicity)
  override def prettyName: String = "graft_cbf_agg"

  override def checkInputDataTypes(): TypeCheckResult =
    if (key.dataType == BinaryType && multiplicity.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName takes (binary key, long multiplicity), got " +
        s"(${key.dataType.catalogString}, ${multiplicity.dataType.catalogString})")

  override protected def newSketch(): Buf =
    (CountingBloomSketch(capacity, fpp), CountingBloomSketch(capacity, fpp))

  override protected def insert(b: Buf, input: InternalRow): Unit = {
    val row = keyRow(input)
    val k = hashedKeys(0).eval(row)
    val m = hashedKeys(1).eval(row)
    val mult = if (m == null) 0L else m.asInstanceOf[Long]
    if (k != null && mult != 0L) {
      val key = k.asInstanceOf[Array[Byte]]
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
  }

  override protected def union(b: Buf, o: Buf): Buf =
    (b._1.mergeInPlace(o._1), b._2.mergeInPlace(o._2))

  override def eval(b: SketchBuffer[Buf]): Any = {
    val (ins, ret) = sketch(b)
    SketchCodec.encodeCountingBloom(ins.subtractInPlace(ret))
  }

  override protected def encode(b: Buf): Array[Byte] = {
    val ins = SketchCodec.encodeCountingBloom(b._1)
    val ret = SketchCodec.encodeCountingBloom(b._2)
    java.nio.ByteBuffer.allocate(4 + ins.length + ret.length)
      .putInt(ins.length).put(ins).put(ret).array()
  }

  // each of the two framed blobs is a counting filter under byte keys
  override protected def blobType: Byte = SketchCodec.TypeId.CountingBloom
  override protected def blobKeyMode: Byte = SketchCodec.KeyMode.Bytes

  /** The two length-framed blobs, each canonical. */
  override protected def canonical(bytes: Array[Byte]): Boolean = {
    val n = if (bytes.length < 4) -1 else java.nio.ByteBuffer.wrap(bytes).getInt()
    n >= 0 && n <= bytes.length - 4 &&
      super.canonical(java.util.Arrays.copyOfRange(bytes, 4, 4 + n)) &&
      super.canonical(java.util.Arrays.copyOfRange(bytes, 4 + n, bytes.length))
  }

  override protected def decode(bytes: Array[Byte]): Buf = {
    val n = java.nio.ByteBuffer.wrap(bytes).getInt()
    (SketchCodec.decodeCountingBloom(java.util.Arrays.copyOfRange(bytes, 4, 4 + n)),
      SketchCodec.decodeCountingBloom(java.util.Arrays.copyOfRange(bytes, 4 + n, bytes.length)))
  }

  override def withNewMutableAggBufferOffset(o: Int): CbfSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CbfSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): CbfSketchAgg =
    copy(key = c(0), multiplicity = c(1))
}

/** Per-instance decode memo used by both the interpreted and codegen'd
  * probe paths.
  *
  *   - [[probe]]: last-blob IDENTITY memo — hits on every row when the
  *     blob is one repeated literal/broadcast closure value (the same
  *     array instance each row). It can NOT work for a blob read out of
  *     a row column: Spark materializes a fresh byte[] per row from the
  *     UnsafeRow, so identity always misses — and content-hashing a
  *     multi-MB blob per row costs as much as decoding it.
  *   - [[probeKeyed]]: for per-row blob columns (shard tables), the
  *     caller supplies a cheap long CACHE KEY that functionally
  *     determines the blob (the shard id — one filter per shard by
  *     construction). Decode happens once per distinct key per task;
  *     bounded by decoded bytes with LRU eviction (a shuffle join
  *     co-partitions big shard tables, so a task sees few distinct
  *     keys; a working set slightly over budget evicts only its
  *     coldest entries instead of thrashing the whole memo).
  */
final class BloomProbeHelper(expectedHasherId: Byte = 0,
    keyedBudgetBytes: Long = BloomProbeHelper.DefaultKeyedBudget) extends Serializable {
  @transient private[this] var cachedBlob: Array[Byte] = _
  @transient private[this] var cachedSketch: KMBloomSketch = _
  @transient private[this] var keyed: java.util.LinkedHashMap[java.lang.Long, BloomProbeHelper.Entry] = _

  /** Decode invocations — test instrumentation for the eviction policy
    * (a shard's blob must not be re-decoded per row batch when the
    * working set is marginally over budget). */
  @transient private[this] var decodeCount: Long = 0L
  def decodes: Long = decodeCount

  private def decode(blob: Array[Byte]): KMBloomSketch = {
    decodeCount += 1
    require(SketchCodec.bloomKeyMode(blob) == SketchCodec.KeyMode.RowHash,
      "sketch was built with byte keys; probe it with graft.spark.functions")
    val sk = SketchCodec.decodeBloom(blob).asInstanceOf[KMBloomSketch]
    // the probe supplies EXTERNALLY computed hashes (one pair per probe
    // expression), so a blob built with a different pair would probe with
    // mismatched hashes and silently return garbage — fail fast instead
    require(sk.hasherId == expectedHasherId,
      s"sketch was built with hash pair ${sk.hasherId}, probe expects " +
        s"$expectedHasherId — probe with the matching pair")
    sk
  }

  def probe(blob: Array[Byte], h1: Long, h2: Long): Boolean = {
    if (blob == null) return false
    if (!(blob eq cachedBlob)) {
      cachedSketch = decode(blob)
      cachedBlob = blob
    }
    cachedSketch.mightContainHashes(h1, h2)
  }

  // budgeted by DECODED BYTES, not entry count: the regimes differ by
  // orders of magnitude (a broadcastable shard table is hundreds of
  // ~KB filters — cache them ALL, an entry cap would thrash; a manually
  // broadcast big table could be hundreds of ~27 MB filters — bytes
  // must bound it). Eviction is LRU (access-ordered LinkedHashMap), one
  // entry at a time: a working set 1.2× the budget re-decodes only the
  // overflow tail per pass, where a wholesale clear re-decoded EVERY
  // shard per row batch (KeyedLruSpec pins ≤2 decodes per shard there).
  @transient private[this] var keyedBytes: Long = 0L

  def probeKeyed(key: Long, blob: Array[Byte], h1: Long, h2: Long): Boolean = {
    if (blob == null) return false
    if (keyed == null) keyed = new java.util.LinkedHashMap(16, 0.75f, true)
    var e = keyed.get(key)
    if (e == null) {
      e = new BloomProbeHelper.Entry(decode(blob), blob.length.toLong)
      // evict coldest-first until the NEW entry fits (always admit it —
      // a single blob over budget still has to be probed)
      val it = keyed.entrySet().iterator()
      while (keyedBytes + e.bytes > keyedBudgetBytes && it.hasNext) {
        keyedBytes -= it.next().getValue.bytes
        it.remove()
      }
      keyed.put(key, e)
      keyedBytes += e.bytes
    }
    e.sketch.mightContainHashes(h1, h2)
  }
}

object BloomProbeHelper {
  final val DefaultKeyedBudget: Long = 256L << 20
  private[catalyst] final class Entry(val sketch: KMBloomSketch, val bytes: Long)
}

/** Shared codegen for the probe expressions: emit per-key hashing of the
  * children into the (h1, h2) locals — the generated-code twin of
  * RowHasher.hashPair. */
private[catalyst] object ProbeCodegen {
  /** Generated-code seed initializers for a pair: `long h1 = seed1; ...` */
  def seedInit(pair: RegisteredKMHashPair, h1: String, h2: String): String =
    s"""long $h1 = ${pair.seed1}L;
       |long $h2 = ${pair.seed2}L;""".stripMargin

  def hashKeys(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      keys: Seq[Expression], h1: String, h2: String,
      pair: RegisteredKMHashPair = KMHashPair.XxMurmur): String = {
    val hashing = "graft.core.Hashing"
    val nullTag = s"${RowHasher.NullTagValue}L"
    // static calls resolved by the pair's primitive names — the generated
    // code stays branch-free and pair-monomorphic
    val a1 = s"$hashing.${pair.algo1.javaName}"
    val a2 = s"$hashing.${pair.algo2.javaName}"
    keys.map { k =>
      val kev = k.genCode(ctx)
      val update = k.dataType match {
        case StringType =>
          val b = ctx.freshName("kb")
          s"""byte[] $b = ${kev.value}.getBytes();
             |$h1 = $a1($b, $h1);
             |$h2 = $a2($b, $h2);""".stripMargin
        case BinaryType =>
          s"""$h1 = $a1(${kev.value}, $h1);
             |$h2 = $a2(${kev.value}, $h2);""".stripMargin
        case LongType | IntegerType | ShortType | ByteType | DateType |
            TimestampType | TimestampNTZType =>
          s"""$h1 = ${a1}Long((long) ${kev.value}, $h1);
             |$h2 = ${a2}Long((long) ${kev.value}, $h2);""".stripMargin
        case BooleanType =>
          s"""$h1 = ${a1}Long(${kev.value} ? 1L : 0L, $h1);
             |$h2 = ${a2}Long(${kev.value} ? 1L : 0L, $h2);""".stripMargin
        case DoubleType =>
          s"""$h1 = ${a1}Long(Double.doubleToLongBits(${kev.value}), $h1);
             |$h2 = ${a2}Long(Double.doubleToLongBits(${kev.value}), $h2);""".stripMargin
        case FloatType =>
          s"""$h1 = ${a1}Long(Double.doubleToLongBits((double) ${kev.value}), $h1);
             |$h2 = ${a2}Long(Double.doubleToLongBits((double) ${kev.value}), $h2);""".stripMargin
        case _ =>
          val b = ctx.freshName("kb")
          s"""byte[] $b = org.apache.spark.unsafe.types.UTF8String
             |  .fromString(String.valueOf(${kev.value})).getBytes();
             |$h1 = $a1($b, $h1);
             |$h2 = $a2($b, $h2);""".stripMargin
      }
      s"""${kev.code}
         |if (${kev.isNull}) {
         |  $h1 = ${a1}Long($nullTag, $h1);
         |  $h2 = ${a2}Long($nullTag, $h2);
         |} else {
         |  $update
         |}""".stripMargin
    }.mkString("\n")
  }
}

/** Probe expression for row-hash Bloom sketches: first child is the
  * sketch blob (typically a literal or scalar subquery), the rest are the
  * key columns. Participates in whole-stage codegen: the generated code
  * hashes child values inline (static Hashing calls on the primitive /
  * UTF8String representations) and probes through the cached helper. */
case class BloomMightContain(sketchExpr: Expression, keys: Seq[Expression],
    hasherId: Byte = 0) extends Expression {

  override def children: Seq[Expression] = sketchExpr +: keys
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_bloom_might_contain"

  @transient private lazy val pair = KMHashPair.byId(hasherId)
  @transient private lazy val helper = new BloomProbeHelper(hasherId)

  override def eval(input: InternalRow): Any = {
    val blob = sketchExpr.eval(input).asInstanceOf[Array[Byte]]
    if (blob == null) return false
    val (h1, h2) = RowHasher.hashPair(keys, input, pair)
    helper.probe(blob, h1, h2)
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val helperRef = ctx.addReferenceObj("graftProbeHelper", helper,
      classOf[BloomProbeHelper].getName)
    val sketchEval = sketchExpr.genCode(ctx)
    val h1 = ctx.freshName("graftH1")
    val h2 = ctx.freshName("graftH2")
    val perKey = ProbeCodegen.hashKeys(ctx, keys, h1, h2, pair)

    ev.copy(
      code = code"""
        ${sketchEval.code}
        boolean ${ev.value} = false;
        if (!${sketchEval.isNull}) {
          ${ProbeCodegen.seedInit(pair, h1, h2)}
          $perKey
          ${ev.value} = $helperRef.probe(${sketchEval.value}, $h1, $h2);
        }
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): BloomMightContain =
    copy(sketchExpr = c.head, keys = c.tail)
}

/** Probe for PER-ROW sketch columns (shard tables): like
  * [[BloomMightContain]], but with a long `cacheKey` child that must
  * FUNCTIONALLY DETERMINE the blob (the shard id — one filter per shard).
  * The helper decodes once per distinct key per task instead of once per
  * row: a blob column read out of an UnsafeRow is a fresh byte[] every
  * row, so no identity/content memo can make the unkeyed expression
  * cheap there. A null cache key falls back to the identity-memo probe. */
case class BloomMightContainKeyed(cacheKey: Expression, sketchExpr: Expression,
    keys: Seq[Expression], hasherId: Byte = 0) extends Expression {

  override def children: Seq[Expression] = cacheKey +: sketchExpr +: keys
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_bloom_might_contain_keyed"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    cacheKey.dataType match {
      case LongType | IntegerType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName cache key must be integral, got ${other.catalogString}")
    }

  @transient private lazy val pair = KMHashPair.byId(hasherId)
  @transient private lazy val helper = new BloomProbeHelper(hasherId)

  override def eval(input: InternalRow): Any = {
    val blob = sketchExpr.eval(input).asInstanceOf[Array[Byte]]
    if (blob == null) return false
    val (h1, h2) = RowHasher.hashPair(keys, input, pair)
    val k = cacheKey.eval(input)
    if (k == null) helper.probe(blob, h1, h2)
    else helper.probeKeyed(k match {
      case l: java.lang.Long => l.longValue()
      case i: java.lang.Integer => i.longValue()
    }, blob, h1, h2)
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val helperRef = ctx.addReferenceObj("graftProbeHelper", helper,
      classOf[BloomProbeHelper].getName)
    val sketchEval = sketchExpr.genCode(ctx)
    val keyEval = cacheKey.genCode(ctx)
    val h1 = ctx.freshName("graftH1")
    val h2 = ctx.freshName("graftH2")
    val perKey = ProbeCodegen.hashKeys(ctx, keys, h1, h2, pair)
    ev.copy(
      code = code"""
        ${sketchEval.code}
        boolean ${ev.value} = false;
        if (!${sketchEval.isNull}) {
          ${ProbeCodegen.seedInit(pair, h1, h2)}
          $perKey
          ${keyEval.code}
          if (${keyEval.isNull}) {
            ${ev.value} = $helperRef.probe(${sketchEval.value}, $h1, $h2);
          } else {
            ${ev.value} = $helperRef.probeKeyed((long) ${keyEval.value}, ${sketchEval.value}, $h1, $h2);
          }
        }
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): BloomMightContainKeyed =
    copy(cacheKey = c.head, sketchExpr = c(1), keys = c.drop(2))
}

/** §2.2 HLL as a native aggregate. */
case class HllSketchAgg(
    keys: Seq[Expression],
    p: Int = HLLSketch.DefaultP,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends KeyedSketchAgg[HLLSketch] {

  override def prettyName: String = "graft_hll_agg"

  override protected def newSketch(): HLLSketch = HLLSketch(p)
  override protected def blobType: Byte = SketchCodec.TypeId.Hll
  override protected def insert(s: HLLSketch, input: InternalRow): Unit =
    s.updateHash(RowHasher.hash64(hashedKeys, keyRow(input)))
  override protected def union(s: HLLSketch, o: HLLSketch): HLLSketch = s.mergeInPlace(o)
  override protected def encode(s: HLLSketch): Array[Byte] = SketchCodec.encodeHll(s)
  override protected def decode(bytes: Array[Byte]): HLLSketch = SketchCodec.decodeHll(bytes)
  override def withNewMutableAggBufferOffset(o: Int): HllSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): HllSketchAgg =
    copy(keys = c)
}

/** Theta (KMV) distinct-count-under-set-algebra as a native aggregate —
  * the cardinality analogue of the reference's union/intersect pair
  * (km_bloom_filter.rs:184–263); see graft.core.ThetaSketch. */
case class ThetaSketchAgg(
    keys: Seq[Expression],
    k: Int = ThetaSketch.DefaultK,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends KeyedSketchAgg[ThetaSketch] {

  override def prettyName: String = "graft_theta_agg"

  override protected def newSketch(): ThetaSketch = ThetaSketch(k)
  override protected def blobType: Byte = SketchCodec.TypeId.Theta
  override protected def insert(s: ThetaSketch, input: InternalRow): Unit =
    s.updateHash(RowHasher.hash64(hashedKeys, keyRow(input)))
  override protected def union(s: ThetaSketch, o: ThetaSketch): ThetaSketch = s.mergeInPlace(o)
  override protected def encode(s: ThetaSketch): Array[Byte] = SketchCodec.encodeTheta(s)
  override protected def decode(bytes: Array[Byte]): ThetaSketch = SketchCodec.decodeTheta(bytes)
  override def withNewMutableAggBufferOffset(o: Int): ThetaSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ThetaSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): ThetaSketchAgg =
    copy(keys = c)
}

/** Bottom-k distinct sample as a native aggregate: a deterministic,
  * merge-order-independent uniform sample of the distinct values of one
  * string/binary column (see graft.core.BottomKSketch — the
  * eval/holdout-split primitive). Output is the codec blob; unwrap with
  * functions.bottomKSampleStrings (SQL: bottomk_sample_strings via
  * functions.registerAll). */
case class BottomKSampleAgg(
    key: Expression,
    k: Int = BottomKSketch.DefaultK,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchAggBase[BottomKSketch] {

  override def children: Seq[Expression] = Seq(key)
  override def prettyName: String = "graft_bottomk_sample_agg"

  override def checkInputDataTypes(): TypeCheckResult =
    SketchAggBase.stringOrBinaryKey(prettyName, key)

  override protected def newSketch(): BottomKSketch = BottomKSketch(k)
  override protected def blobType: Byte = SketchCodec.TypeId.BottomK
  override protected def insert(s: BottomKSketch, input: InternalRow): Unit = {
    val v = key.eval(input)
    if (v != null) s.update(SketchAggBase.keyBytes(v))
  }
  override protected def union(s: BottomKSketch, o: BottomKSketch): BottomKSketch =
    s.mergeInPlace(o)
  override protected def encode(s: BottomKSketch): Array[Byte] = SketchCodec.encodeBottomK(s)
  override protected def decode(bytes: Array[Byte]): BottomKSketch =
    SketchCodec.decodeBottomK(bytes)
  override def withNewMutableAggBufferOffset(o: Int): BottomKSampleAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BottomKSampleAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): BottomKSampleAgg =
    copy(key = c.head)
}

/** Weighted bottom-k distinct sample as a native aggregate: A-ES race
  * keys over the key's own hash (see graft.core.WeightedBottomKSketch)
  * make the selection weight-proportional, deterministic, and
  * merge-order-independent — the "weighted training mix in one
  * partial-aggregate pass" primitive. Weight must be a pure function of
  * the key, finite and > 0; rows with a null key or null weight are
  * skipped (the null key matches every other agg here; a null weight
  * has no defensible race, and skipping keeps the pure-function
  * contract checkable by the caller). */
case class WeightedBottomKSampleAgg(
    key: Expression,
    weight: Expression,
    k: Int = WeightedBottomKSketch.DefaultK,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchAggBase[WeightedBottomKSketch] {

  override def children: Seq[Expression] = Seq(key, weight)
  override def prettyName: String = "graft_weighted_bottomk_sample_agg"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (key.dataType, weight.dataType) match {
      case (StringType | BinaryType, DoubleType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (kt, wt) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName takes (string|binary key, double weight), got " +
            s"(${kt.catalogString}, ${wt.catalogString})")
    }

  override protected def newSketch(): WeightedBottomKSketch = WeightedBottomKSketch(k)
  override protected def blobType: Byte = SketchCodec.TypeId.WeightedBottomK

  override protected def insert(s: WeightedBottomKSketch, input: InternalRow): Unit = {
    val v = key.eval(input)
    if (v != null) {
      val w = weight.eval(input)
      // a null weight under a non-null key is a contract violation, not
      // a row to skip: silently dropping it would bias the sample with
      // no error — exactly what the kernel's finite/>0 requires exist
      // to prevent (a non-numeric weight cast to double yields null)
      require(w != null,
        "weighted bottom-k weight is null for a non-null key — the weight " +
          "must be finite and > 0 (a non-numeric value cast to double yields null)")
      s.update(SketchAggBase.keyBytes(v), w.asInstanceOf[Double])
    }
  }

  override protected def union(s: WeightedBottomKSketch,
      o: WeightedBottomKSketch): WeightedBottomKSketch = s.mergeInPlace(o)
  override protected def encode(s: WeightedBottomKSketch): Array[Byte] =
    SketchCodec.encodeWeightedBottomK(s)
  override protected def decode(bytes: Array[Byte]): WeightedBottomKSketch =
    SketchCodec.decodeWeightedBottomK(bytes)
  override def withNewMutableAggBufferOffset(o: Int): WeightedBottomKSampleAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): WeightedBottomKSampleAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): WeightedBottomKSampleAgg =
    copy(key = c.head, weight = c(1))
}

/** Misra–Gries heavy hitters as a native aggregate: deterministic
  * ε-approximate frequent items carrying the KEYS themselves (CMS's
  * complement — see core/MGSketch.scala for the bounds and the
  * PODS 2012 mergeable-summaries merge Spark's partial/final shape
  * relies on). */
case class MgSketchAgg(
    key: Expression,
    k: Int = MGSketch.DefaultK,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchAggBase[MGSketch] {

  override def children: Seq[Expression] = Seq(key)
  override def prettyName: String = "graft_mg_agg"

  override def checkInputDataTypes(): TypeCheckResult =
    SketchAggBase.stringOrBinaryKey(prettyName, key)

  override protected def newSketch(): MGSketch = MGSketch(k)
  override protected def blobType: Byte = SketchCodec.TypeId.Mg
  override protected def insert(s: MGSketch, input: InternalRow): Unit = {
    val v = key.eval(input)
    if (v != null) s.update(SketchAggBase.keyBytes(v))
  }
  override protected def union(s: MGSketch, o: MGSketch): MGSketch = s.mergeInPlace(o)
  override protected def encode(s: MGSketch): Array[Byte] = SketchCodec.encodeMg(s)
  override protected def decode(bytes: Array[Byte]): MGSketch = SketchCodec.decodeMg(bytes)
  override def withNewMutableAggBufferOffset(o: Int): MgSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MgSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): MgSketchAgg =
    copy(key = c.head)
}

/** §2.2 count–min as a native aggregate; `keyMode` as in
  * [[BloomSketchAgg]] (KeyMode.Bytes: functions.cmsAgg). */
case class CmsSketchAgg(
    keys: Seq[Expression],
    eps: Double,
    delta: Double,
    keyMode: Byte = SketchCodec.KeyMode.RowHash,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends KeyedSketchAgg[CMSSketch] {

  override def prettyName: String = "graft_cms_agg"
  override def checkInputDataTypes(): TypeCheckResult = checkKeys(keyMode)

  override protected def newSketch(): CMSSketch = CMSSketch(eps, delta)
  override protected def blobType: Byte = SketchCodec.TypeId.Cms
  override protected def blobKeyMode: Byte = keyMode
  override protected def insert(s: CMSSketch, input: InternalRow): Unit =
    s.updateHash(RowHasher.hash64(hashedKeys, keyRow(input)))
  override protected def union(s: CMSSketch, o: CMSSketch): CMSSketch = s.mergeInPlace(o)
  override protected def encode(s: CMSSketch): Array[Byte] = SketchCodec.encodeCms(s, keyMode)
  override protected def decode(bytes: Array[Byte]): CMSSketch = SketchCodec.decodeCms(bytes)
  override def withNewMutableAggBufferOffset(o: Int): CmsSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CmsSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): CmsSketchAgg =
    copy(keys = c)
}

/** Point-estimate a row-hash CMS for the key columns. */
case class CmsEstimate(sketchExpr: Expression, keys: Seq[Expression])
  extends Expression with CodegenFallback {

  override def children: Seq[Expression] = sketchExpr +: keys
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_cms_estimate"

  @transient private[this] var cachedBlob: Array[Byte] = _
  @transient private[this] var cachedSketch: CMSSketch = _

  override def eval(input: InternalRow): Any = {
    val blob = sketchExpr.eval(input).asInstanceOf[Array[Byte]]
    if (blob == null) return 0L
    if (!(blob eq cachedBlob)) {
      require(SketchCodec.cmsKeyMode(blob) == SketchCodec.KeyMode.RowHash,
        "CMS was built with byte keys; query it with graft.spark.functions")
      cachedSketch = SketchCodec.decodeCms(blob)
      cachedBlob = blob
    }
    cachedSketch.estimateHash(RowHasher.hash64(keys, input))
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): CmsEstimate =
    copy(sketchExpr = c.head, keys = c.tail)
}

/** §2.2 t-digest as a native aggregate over a double column. */
case class TDigestSketchAgg(
    value: Expression,
    compression: Double = TDigestSketch.DefaultCompression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchAggBase[TDigestSketch] {

  override def children: Seq[Expression] = Seq(value)
  override def prettyName: String = "graft_tdigest_agg"

  override protected def newSketch(): TDigestSketch = TDigestSketch(compression)
  override protected def blobType: Byte = SketchCodec.TypeId.TDigest
  override protected def insert(s: TDigestSketch, input: InternalRow): Unit = {
    val v = value.eval(input)
    if (v != null) s.update(SketchAggBase.numeric(v))
  }
  override protected def union(s: TDigestSketch, o: TDigestSketch): TDigestSketch =
    s.mergeInPlace(o)
  override protected def encode(s: TDigestSketch): Array[Byte] = SketchCodec.encodeTDigest(s)
  override protected def decode(bytes: Array[Byte]): TDigestSketch =
    SketchCodec.decodeTDigest(bytes)
  override def withNewMutableAggBufferOffset(o: Int): TDigestSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TDigestSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): TDigestSketchAgg =
    copy(value = c.head)
}

/** §2.2 KLL as a native aggregate over a double column. */
case class KllSketchAgg(
    value: Expression,
    k: Int = KLLSketch.DefaultK,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchAggBase[KLLSketch] {

  override def children: Seq[Expression] = Seq(value)
  override def prettyName: String = "graft_kll_agg"

  override protected def newSketch(): KLLSketch = KLLSketch(k)
  override protected def blobType: Byte = SketchCodec.TypeId.Kll
  override protected def insert(s: KLLSketch, input: InternalRow): Unit = {
    val v = value.eval(input)
    if (v != null) s.update(SketchAggBase.numeric(v))
  }
  override protected def union(s: KLLSketch, o: KLLSketch): KLLSketch = s.mergeInPlace(o)
  override protected def encode(s: KLLSketch): Array[Byte] = SketchCodec.encodeKll(s)
  override protected def decode(bytes: Array[Byte]): KLLSketch = SketchCodec.decodeKll(bytes)
  override def withNewMutableAggBufferOffset(o: Int): KllSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KllSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): KllSketchAgg =
    copy(value = c.head)
}
