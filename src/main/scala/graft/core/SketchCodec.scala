package graft.core

import java.nio.{ByteBuffer, ByteOrder}

import scala.collection.immutable.ArraySeq

/** Versioned binary serialization for every sketch.
  *
  * The reference keeps filter state RAM-only (no serde —
  * `/root/reference/Cargo.toml` lists only `ahash`); a distributed engine
  * cannot: sketch state crosses the shuffle between partial and final
  * aggregation, lands in checkpoints, and is stored in BinaryType columns.
  *
  * Layout (all little-endian):
  *   magic "GSK1" (4 bytes) | typeId (1) | version (1) | payload
  */
object SketchCodec {
  private val Magic: Array[Byte] = Array('G', 'S', 'K', '1').map(_.toByte)

  /** Key-hashing convention a Bloom/CMS sketch was built with. Probing
    * with the other convention would be silent corruption (every probe
    * false ⇒ false negatives), so the codec records it and probe paths
    * enforce it. */
  object KeyMode {
    /** caller-encoded canonical bytes: the gf.* builds hash the UTF-8 of
      * the key columns cast to string, joined by 0x01, a null column as
      * `\u0002NULL\u0003` (functions.sketchKey, one catalyst.SketchKey
      * expression; malformed UTF-8 replaced by U+FFFD as encode() does) */
    val Bytes: Byte = 0
    /** native row-hash (graft.spark.catalyst expressions) */
    val RowHash: Byte = 1
  }

  object TypeId {
    val Bloom: Byte = 1
    val Hll: Byte = 2
    val Cms: Byte = 3
    val TDigest: Byte = 4
    val Kll: Byte = 5
    val Theta: Byte = 6
    val BottomK: Byte = 7
    val Mg: Byte = 8
    val WeightedBottomK: Byte = 9
    val CountingBloom: Byte = 10
  }
  // Versions are PER TYPE — and, for HLL/CMS, PER BLOB:
  //   - Bloom: DENSE blobs are v2 (carries the KM hash-pair id, see
  //     KMHashPair); v1 blobs still decode (default pair), so old
  //     checkpoints resume. A filter whose offset-list or word-RLE
  //     layout is strictly smaller than dense is stamped v4 and encoded
  //     sparse (see encodeBloom). v4, NOT v3: the pre-round-5 reader
  //     accepts v3 (HLL/CMS sparse) but would MISPARSE a sparse Bloom as
  //     dense; v4 is above its max version, so it fails fast. Sparse
  //     Bloom v3 blobs (briefly written in round 5) still decode: Bloom
  //     never wrote v3 dense, so the byte is unambiguous.
  //   - HLL/CMS: DENSE blobs are written v1 (the layout of every earlier
  //     build); a blob whose sparse layout is strictly smaller is stamped
  //     v3 and encoded sparse. v3, NOT v2: one earlier build stamped v2
  //     on every type while writing the DENSE layout, so v2 keeps
  //     decoding as dense. An older reader accepts every dense blob and
  //     FAILS FAST (version check) on a sparse v3 one.
  //   - theta/KLL/t-digest/bottom-k: content-proportional payloads,
  //     written v1; v2 blobs from the earlier always-v2 build decode
  //     identically (the version byte never changed their layout).
  //   - HLL sparse, t-digest and weighted bottom-k: COMPACT layouts
  //     (varint index gaps, varint weights, no stored key hash), stamped
  //     v5. v5, NOT v3 or v4: every earlier reader accepts versions up
  //     to 4 and would misparse a compact blob as its older layout; v5
  //     is above its max version, so it fails fast. The older layouts of
  //     these types (HLL sparse v2/v3, t-digest and weighted bottom-k
  //     v1–v4) still decode, so state written by an older build resumes
  //     and is re-encoded compact on its first write. No other type
  //     accepts v5.
  // Every layout choice is a pure function of the sketch state, so equal
  // sketches encode to equal bytes under any merge order (q33 and the
  // state-identity suites rely on it).
  private val Version: Byte = 5 // max accepted by readers
  private val BloomVersion: Byte = 2
  private val SparseVersion: Byte = 3
  private val BloomSparseVersion: Byte = 4
  private val CompactVersion: Byte = 5
  private val MinVersion: Byte = 1

  private def writer(typeId: Byte, payloadSize: Int, version: Byte): ByteBuffer = {
    val bb = ByteBuffer.allocate(6 + payloadSize).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(Magic).put(typeId).put(version)
    bb
  }

  private val MagicInt: Int = ByteBuffer.wrap(Magic).order(ByteOrder.LITTLE_ENDIAN).getInt()
  /** No codec type: a reader that expects it takes any type. */
  private val AnyType: Byte = 0

  /** Returns the buffer positioned at the payload; version via [[versionOf]]. */
  private def reader(bytes: Array[Byte], expectType: Byte): ByteBuffer = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(bb.getInt() == MagicInt, "not a graft sketch (bad magic)")
    val t = bb.get()
    if (expectType != AnyType && t != expectType)
      fail(s"sketch type mismatch: expected $expectType, got $t")
    val v = bb.get()
    if (v < MinVersion || v > Version ||
        (v == CompactVersion && t != TypeId.Hll && t != TypeId.TDigest && t != TypeId.WeightedBottomK))
      fail(s"unsupported sketch codec version $v")
    bb
  }

  private def versionOf(bytes: Array[Byte]): Byte = bytes(5)

  /** `require`'s refusal, without the closure `require` allocates for its
    * message on every call: a check walks every blob it passes. */
  private def fail(msg: String): Nothing = throw new IllegalArgumentException(s"requirement failed: $msg")

  /** A blob that ends inside a field fails like every other damaged blob. */
  private def typed[A](decode: => A): A =
    try decode catch {
      case e: java.nio.BufferUnderflowException =>
        throw new IllegalArgumentException("corrupt sketch blob: truncated", e)
    }

  /** A sparse body cannot bound the logical size its header declares, so
    * a header inflated past the heap is refused here, typed, instead of
    * failing the allocation with OutOfMemoryError. */
  private def requireHeapFits(size: Long, what: String): Unit = {
    val heap = Runtime.getRuntime.maxMemory
    if (size > heap) fail(s"corrupt $what blob: declares $size bytes, more than the $heap-byte heap")
  }

  /** An entry count `n` whose entries take at least `minEntry` bytes
    * each must fit in the bytes that follow it. */
  private def requireEntries(n: Int, minEntry: Int, bb: ByteBuffer, what: String): Unit =
    if (!(n >= 0 && minEntry.toLong * n <= bb.remaining))
      fail(s"corrupt $what blob: $n entries in ${bb.remaining} bytes")

  /** A key length must leave room for the rest of its entry (`after`
    * bytes) and the minimum of every entry after it. */
  private def requireKey(len: Int, after: Long, bb: ByteBuffer, what: String): Unit =
    if (!(len >= 0 && len + after <= bb.remaining))
      fail(s"corrupt $what blob: a $len-byte key in ${bb.remaining} bytes")

  /** Sniff the sketch type of an encoded blob without decoding it. */
  def typeOf(bytes: Array[Byte]): Byte = {
    require(bytes.length >= 6, "truncated sketch blob")
    bytes(4)
  }

  /** Human-readable render of ANY sketch blob — config + size +
    * estimates, never the raw bits (the reference's Debug surface,
    * bitset.rs:103–108 / km_bloom_filter.rs:293–301, made safe for
    * 10^9-bit filters). TOTAL: corrupt/truncated/foreign blobs render a
    * diagnostic string instead of throwing — one bad row must not kill
    * the observability query this exists for. */
  def describe(bytes: Array[Byte]): String =
    try {
      val t = typeOf(bytes)
      if (t < TypeId.Bloom || t > TypeId.CountingBloom) s"unknown sketch type $t (${bytes.length} bytes)"
      else decode(bytes).toString
    } catch {
      case e: Exception =>
        s"invalid sketch blob (${bytes.length} bytes): ${e.getMessage}"
    }

  // ------------------------------------------ decoding and canonical form
  // Each type's body is read by ONE walk, in one of two modes. Decoding
  // builds the sketch. Checking builds nothing and allocates nothing
  // whose size only the header declares; it refuses what decoding
  // refuses, and answers whether the blob is CANONICAL: exactly what the
  // current encoder writes for the state it decodes to, so an
  // aggregation buffer may pass it through (catalyst.SketchBuffer). That
  // means the current version and layout choice, the exact length,
  // minimal varints, strictly ascending entries, no empty groups or zero
  // cells, and a state the sketch's constructor keeps as it is. Legacy
  // versions and damaged blobs are never canonical; decoding a damaged
  // blob is what reports the damage. A decode skips the tests only a
  // check needs.

  /** Where a decoding walk puts the sketch; a checking walk has none. */
  private final class Decoded { var sketch: AnyRef = _ }

  /** The sketch in a blob of any codec type. */
  def decode(bytes: Array[Byte]): AnyRef = decodeAs(bytes, AnyType)

  private def decodeAs(bytes: Array[Byte], typeId: Byte): AnyRef = typed {
    val out = new Decoded
    walk(bytes, typeId, out)
    out.sketch
  }

  /** True iff `encode(decode(bytes)) == bytes`, checked without building
    * the sketch. Never throws. */
  def isCanonical(bytes: Array[Byte]): Boolean =
    try walk(bytes, AnyType, null) catch {
      case _: java.nio.BufferUnderflowException | _: IllegalArgumentException |
          _: IndexOutOfBoundsException => false
    }

  /** The one dispatch on the type byte: reads the header (of type
    * `typeId`, unless AnyType) and walks the body — decoding into `out`,
    * or, with `out` null, checking. A check returns whether the blob is
    * canonical; a decode's answer means nothing. */
  private def walk(bytes: Array[Byte], typeId: Byte, out: Decoded): Boolean = {
    val bb = reader(bytes, typeId)
    bytes(4) match {
      case TypeId.Bloom => bloomBody(bytes, bb, out)
      case TypeId.Hll => hllBody(bytes, bb, out)
      case TypeId.Cms => cmsBody(bytes, bb, out)
      case TypeId.TDigest => tdigestBody(bytes, bb, out)
      case TypeId.Kll => kllBody(bytes, bb, out)
      case TypeId.Theta => thetaBody(bytes, bb, out)
      case TypeId.BottomK => bottomKBody(bytes, bb, out)
      case TypeId.Mg => mgBody(bytes, bb, out)
      case TypeId.WeightedBottomK => weightedBottomKBody(bytes, bb, out)
      case TypeId.CountingBloom => countingBloomBody(bytes, bb, out)
      case t => throw new IllegalArgumentException(s"unknown sketch type $t")
    }
  }

  /** The blob of any decoded sketch, with `keyMode` for the types whose
    * blobs carry a key convention. */
  def encode(sketch: AnyRef, keyMode: Byte): Array[Byte] = sketch match {
    case s: BloomSketch => encodeBloom(s, keyMode)
    case s: HLLSketch => encodeHll(s)
    case s: CMSSketch => encodeCms(s, keyMode)
    case s: TDigestSketch => encodeTDigest(s)
    case s: KLLSketch => encodeKll(s)
    case s: ThetaSketch => encodeTheta(s)
    case s: BottomKSketch => encodeBottomK(s)
    case s: MGSketch => encodeMg(s)
    case s: WeightedBottomKSketch => encodeWeightedBottomK(s)
    case s: CountingBloomSketch => encodeCountingBloom(s, keyMode)
    case s => throw new IllegalArgumentException(s"not a sketch: ${s.getClass.getName}")
  }

  /** Key convention of a Bloom, CMS or counting-Bloom blob; 0 for the
    * types whose blobs carry none. */
  def keyModeOf(bytes: Array[Byte]): Byte = typeOf(bytes) match {
    case TypeId.Bloom => bloomKeyMode(bytes)
    case TypeId.Cms => cmsKeyMode(bytes)
    case TypeId.CountingBloom => countingBloomKeyMode(bytes)
    case _ => 0
  }

  /** A blob of type `typeId` whose header carries the fields an encoder
    * takes from its caller rather than from the sketch state: the Bloom
    * `variant` and key convention, the CMS and counting-Bloom key
    * convention (`keyMode`); other types ignore both. `bytes` must carry
    * a full header. */
  def isKind(bytes: Array[Byte], typeId: Byte, variant: Byte, keyMode: Byte): Boolean =
    bytes(4) == typeId && (typeId match {
      case TypeId.Bloom => bytes(6) == variant && bytes(7) == keyMode
      case TypeId.Cms | TypeId.CountingBloom => bytes(6) == keyMode
      case _ => true
    })

  private def registeredPair(id: Byte): Boolean = KMHashPair.registered.exists(_.id == id)

  // -------------------------------------------------------------- Bloom
  // v1/v2 (dense): variant(1) keyMode(1) hasherId(1) capacity(8) fpp(8)
  //                nWords(4) numBits(8) words(8*n)
  // v4 (sparse, round 5; v3 blobs from early round-5 builds decode
  //     identically): variant(1) keyMode(1) hasherId(1) capacity(8)
  //                fpp(8) numBits(8) layout(1) body
  //   layout 0 (offset-list): ones(4), then LEB128 varint DELTAS of the
  //     ascending set-bit positions (first delta = first position) —
  //     ~1–2 bytes per set bit at light fill (mean gap < 2^14);
  //   layout 1 (word-RLE): maximal (zeroRun varint, litLen varint,
  //     litWords 8·litLen) groups, trailing zero words implied.
  //
  // Why: a grouped Bloom table — or the windowed streaming state, which
  // carries a capacity-100k filter (~175 KiB dense at p=.001) per
  // (window, tool) — is dominated by lightly-filled filters. The layout
  // is the strictly smallest of the three (bloomLayout), so equal
  // filters encode to equal bytes (q03 union ≡ bulk, q33 windowed_eq).
  // Reference contrast: bitset.rs:3–6 is dense-only — it never holds
  // thousands of filters at once.
  def encodeBloom(s: BloomSketch, keyMode: Byte = KeyMode.Bytes): Array[Byte] = {
    require(s.hasherId >= 0,
      "custom (unregistered) hash pairs cannot cross the codec — register " +
        "the pair with a stable id in KMHashPair to use it in Spark aggregation")
    val w = s.bits.words
    val nW = w.length
    val choice = bloomLayout(w, null, nW, nW, -1L)
    val layout = (choice & 3).toByte
    val dense = layout == 2
    val bb = writer(TypeId.Bloom, (choice >>> 2).toInt, if (dense) BloomVersion else BloomSparseVersion)
      .put(s.variant).put(keyMode).put(s.hasherId).putLong(s.config.capacity).putDouble(s.config.fpp)
    if (dense) {
      bb.putInt(nW).putLong(s.bits.numBits)
      bb.asLongBuffer().put(w)
      return bb.array()
    }
    bb.putLong(s.bits.numBits).put(layout)
    var wi = 0
    if (layout == 0) {
      val out = bb.array()
      val onesAt = bb.position()
      var at = onesAt + 4
      var ones = 0
      var prevPos = 0L
      while (wi < nW) {
        var bits = w(wi)
        while (bits != 0L) {
          val pos = wi.toLong * 64 + java.lang.Long.numberOfTrailingZeros(bits)
          at = putVarint(out, at, pos - prevPos)
          prevPos = pos
          ones += 1
          bits &= bits - 1
        }
        wi += 1
      }
      bb.putInt(onesAt, ones)
    } else {
      while (wi < nW) {
        var z = 0L
        while (wi < nW && w(wi) == 0L) { z += 1; wi += 1 }
        if (wi < nW) {
          val litStart = wi
          while (wi < nW && w(wi) != 0L) wi += 1
          putVarint(bb, z)
          putVarint(bb, (wi - litStart).toLong)
          var j = litStart
          while (j < wi) { bb.putLong(w(j)); j += 1 }
        }
      }
    }
    bb.array()
  }

  private val BloomSparseHeader = 3 + 16 + 8 + 1

  /** The layout encodeBloom writes for a filter of `nWords` words, as
    * `payload << 2 | layout` (0 offset list, 1 word-RLE, 2 dense): the
    * strictly smallest wins, dense wins ties, and the offset list beats
    * word-RLE at equal size. The nonzero words are `w(i)` at word index
    * `at(i)`, i < n, or, with `at` null, `w` is the whole filter. A
    * known offset-list payload comes as `offset` (else -1; `w` is not
    * read). One pass over primitive locals sizes the offset list; a
    * second sizes word-RLE only if the offset list loses to its lower
    * bound, 8 bytes a nonzero word. */
  private def bloomLayout(w: Array[Long], at: Array[Int], n: Int, nWords: Int, offset: Long): Long = {
    val densePayload = 3 + 16 + 4 + 8 + 8L * nWords
    var offsetPayload = offset
    var nonZero = n.toLong
    var i = 0
    if (offset < 0) {
      // within a word every delta is < 64 (one varint byte), so only each
      // nonzero word's first set bit needs a real varint size
      var body = 4L
      var ones = 0L
      var last = 0L
      nonZero = 0
      while (i < n) {
        val x = w(i)
        if (x != 0L) {
          val bit0 = (if (at == null) i else at(i)).toLong << 6
          val first = bit0 + java.lang.Long.numberOfTrailingZeros(x)
          val c = java.lang.Long.bitCount(x)
          body += varintSize(if (ones == 0) first else first - last) + c - 1
          ones += c
          last = bit0 + 63 - java.lang.Long.numberOfLeadingZeros(x)
          nonZero += 1
        }
        i += 1
      }
      offsetPayload = BloomSparseHeader + body
    }
    if (offsetPayload < densePayload && offsetPayload <= BloomSparseHeader + 8 * nonZero)
      return offsetPayload << 2
    var rle = 0L
    var lastWord = -1L
    var run = 0L
    i = 0
    while (i < n) {
      if (at != null || w(i) != 0L) {
        val wi = if (at == null) i.toLong else at(i).toLong
        if (run > 0 && wi == lastWord + 1) run += 1
        else {
          if (run > 0) rle += varintSize(run) + 8 * run
          rle += varintSize(wi - lastWord - 1)
          run = 1
        }
        lastWord = wi
      }
      i += 1
    }
    if (run > 0) rle += varintSize(run) + 8 * run
    val rlePayload = BloomSparseHeader + rle
    if (offsetPayload < densePayload && offsetPayload <= rlePayload) offsetPayload << 2
    else if (rlePayload < densePayload) rlePayload << 2 | 1
    else densePayload << 2 | 2
  }

  def decodeBloom(bytes: Array[Byte]): BloomSketch = decodeAs(bytes, TypeId.Bloom).asInstanceOf[BloomSketch]

  private def bloomBody(bytes: Array[Byte], bb: ByteBuffer, out: Decoded): Boolean = {
    val check = out == null
    val v = versionOf(bytes)
    val variant = bb.get()
    bb.get() // keyMode — surfaced via bloomKeyMode; any byte round-trips
    // v1 Bloom blobs predate hash-pair injection: default pair (id 0)
    val hasherId = if (v >= 2) bb.get() else 0: Byte
    // the encoder writes v2 dense or v4 sparse, a registered pair's id,
    // and id 0 for a seeded filter
    if (check && ((v != BloomVersion && v != BloomSparseVersion) ||
        !(if (variant == BloomVariant.Seeded) hasherId == 0
          else variant == BloomVariant.KM && registeredPair(hasherId)))) return false
    val cfg = BloomConfig(bb.getLong(), bb.getDouble())
    val payload = bytes.length - 6L
    // every length field is checked before it sizes an allocation, so a
    // length-inflated blob fails here instead of with OutOfMemoryError
    var numBits = 0L
    var words: Array[Long] = null
    val canonical =
      // >= 3, not == 4: early round-5 builds stamped sparse Bloom v3
      // (Bloom never emitted v3 dense, so the byte is unambiguous)
      if (v >= SparseVersion) {
        numBits = bb.getLong()
        if (!(numBits == cfg.totalBits && ((numBits + 63) >>> 6) <= Int.MaxValue))
          fail(s"corrupt Bloom blob: config says ${cfg.totalBits} bits, header has $numBits")
        val nWords = ((numBits + 63) >>> 6).toInt
        requireHeapFits(8L * nWords, "Bloom")
        if (!check) words = new Array[Long](nWords)
        bb.get() match {
          case 0 => // offset list; a check keeps each nonzero word's index
            val ones = bb.getInt()
            if (check && (ones < 0 || ones > bb.remaining)) return false
            val idx = if (check) new Array[Int](ones) else null
            var n = 0
            var pos = 0L
            var at = bb.position()
            var i = 0
            while (i < ones) {
              // one-byte deltas straight from the array, longer ones via bb
              val d =
                if (at < bytes.length && bytes(at) >= 0) { at += 1; bytes(at - 1).toLong }
                else {
                  bb.position(at)
                  val x = getVarint(bb)
                  if (check && !minimalVarint(bytes, at, bb.position())) return false
                  at = bb.position()
                  x
                }
              // a varint above 2^63 reads as negative: compare before adding
              if (!(d >= 0 && d < numBits - pos)) fail("corrupt sparse Bloom blob (offset)")
              pos += d
              if (!check) words((pos >>> 6).toInt) |= 1L << (pos & 63)
              else {
                if (d == 0 && i > 0) return false // positions strictly ascend
                val wi = (pos >>> 6).toInt
                if (n == 0 || idx(n - 1) != wi) { idx(n) = wi; n += 1 }
              }
              i += 1
            }
            check && at == bytes.length && bloomLayout(null, idx, n, nWords, payload) == payload << 2
          case 1 => // word-RLE; a check keeps each literal word and its index
            val lits = if (check) new Array[Long](bb.remaining / 8) else null
            val idx = if (check) new Array[Int](lits.length) else null
            var n = 0
            var wp = 0L
            while (bb.hasRemaining) {
              val zAt = bb.position()
              val z = getVarint(bb)
              val litAt = bb.position()
              val lit = getVarint(bb)
              // the run and the literals end at or before the last word; a
              // varint above 2^63 reads as negative, so compare, never add
              if (!(z >= 0 && z <= nWords - wp && lit >= 0 && lit <= nWords - wp - z))
                fail("corrupt sparse Bloom blob (RLE): a group past the last word")
              wp += z
              // maximal groups: zero words (none only before the first
              // group), then at least one nonzero word
              if (check && (!minimalVarint(bytes, zAt, litAt) ||
                  !minimalVarint(bytes, litAt, bb.position()) || lit < 1 ||
                  (z == 0 && n > 0) || lit > bb.remaining / 8)) return false
              var j = 0L
              while (j < lit) {
                val word = bb.getLong()
                if (!check) words(wp.toInt) = word
                else if (word == 0L) return false
                else { lits(n) = word; idx(n) = wp.toInt; n += 1 }
                wp += 1
                j += 1
              }
            }
            check && bloomLayout(lits, idx, n, nWords, -1L) == (payload << 2 | 1)
          case l => throw new IllegalArgumentException(s"unknown sparse Bloom layout $l")
        }
      } else {
        val nWords = bb.getInt()
        numBits = bb.getLong()
        if (!(nWords >= 0 && nWords <= bb.remaining / 8 && numBits >= 0 &&
            nWords == ((numBits + 63) >>> 6)))
          fail(s"corrupt dense Bloom blob: $nWords words for $numBits bits in ${bb.remaining} bytes")
        // the body is the state, so a check reads it as a decode does: a
        // canonical dense body is the rest of the blob
        if (check && bb.remaining != 8L * nWords) return false
        words = new Array[Long](nWords)
        bb.asLongBuffer().get(words)
        check && bloomLayout(words, null, nWords, nWords, -1L) == (payload << 2 | 2)
      }
    if (cfg.totalBits != numBits)
      fail(s"corrupt Bloom blob: config says ${cfg.totalBits} bits, payload has $numBits")
    if (!check) out.sketch = variant match {
      case BloomVariant.KM =>
        new KMBloomSketch(cfg, BitArray.fromWords(words, numBits), KMHashPair.byId(hasherId))
      case BloomVariant.Seeded => new SeededBloomSketch(cfg, BitArray.fromWords(words, numBits))
      case x => throw new IllegalArgumentException(s"unknown Bloom variant $x")
    }
    canonical
  }

  // LEB128 unsigned varints (sparse Bloom, counting-Bloom and the
  // compact v5 bodies)
  private def varintSize(v: Long): Int = {
    var x = v; var n = 1
    while ((x & ~0x7fL) != 0L) { x >>>= 7; n += 1 }
    n
  }
  private def putVarint(bb: ByteBuffer, v: Long): Unit =
    bb.position(putVarint(bb.array(), bb.position(), v))
  /** Writes `v` at `out(at)`; returns the index after it. */
  private def putVarint(out: Array[Byte], at: Int, v: Long): Int = {
    var x = v
    var i = at
    while ((x & ~0x7fL) != 0L) { out(i) = ((x & 0x7f) | 0x80).toByte; x >>>= 7; i += 1 }
    out(i) = x.toByte
    i + 1
  }
  /** A varint of at most 10 bytes whose value fits 64 bits: the tenth
    * byte carries bit 63 only, and a longer one is refused, typed. */
  private def getVarint(bb: ByteBuffer): Long = {
    var x = 0L; var shift = 0; var b = 0
    do {
      b = bb.get() & 0xff
      if (shift == 63 && b > 1) fail("corrupt sketch blob: a varint past 64 bits")
      x |= (b & 0x7fL) << shift
      shift += 7
    } while ((b & 0x80) != 0)
    x
  }
  /** A varint count, length or k, refused, typed, past the Int range. */
  private def getIntVarint(bb: ByteBuffer, what: String): Int = {
    val x = getVarint(bb)
    if (x < 0 || x > Int.MaxValue) fail(s"corrupt $what blob: a varint field of $x")
    x.toInt
  }
  /** Whether the varint in `bytes(from until until)` is one the encoder
    * writes: minimal (a longer one ends in a nonzero byte) and below
    * 2^63 (at most 9 bytes). */
  private def minimalVarint(bytes: Array[Byte], from: Int, until: Int): Boolean =
    until - from == 1 || (until - from <= 9 && bytes(until - 1) != 0)

  /** Key convention of an encoded Bloom blob (header 6 + variant 1). */
  def bloomKeyMode(bytes: Array[Byte]): Byte = {
    require(bytes.length >= 8 && typeOf(bytes) == TypeId.Bloom, "not a Bloom blob")
    bytes(7)
  }

  // -------------------------------------------------------------- HLL
  // v1/v2 (dense): p(4) registers(m bytes)
  // v3 (sparse, legacy): p(4) count(4) packed(4*count) — packed int =
  //              idx<<6 | rank, ascending idx.
  // v5 (compact): p(4) count(varint), then per occupied register, in
  //              ascending index order, one varint (gap << 6) | rank:
  //              gap = index − previous index (−1 before the first), so
  //              gap ≥ 1, and rank ≤ 64−p+1 ≤ 61 fits 6 bits. Adjacent
  //              registers take one byte, gaps below 512 two (Heule et al.,
  //              HyperLogLog in Practice, store sparse HLL as varint gaps).
  //
  // Compact iff strictly smaller than dense: a grouped sketch table at
  // 10^6+ group cardinality is dominated by small groups, and a 16 KiB
  // dense register file per group crossed every shuffle (a 100-distinct
  // group encodes in ~0.2 KiB).
  def encodeHll(s: HLLSketch): Array[Byte] = {
    val regs = s.registers
    val m = regs.length
    val compact = hllCompact(regs, 0, m)
    if (compact < 0) return writer(TypeId.Hll, 4 + m, MinVersion).putInt(s.p).put(regs).array()
    val bb = writer(TypeId.Hll, (compact >>> 20).toInt, CompactVersion).putInt(s.p)
    val out = bb.array()
    var at = putVarint(out, bb.position(), compact & 0xfffff)
    var prev = -1
    // m = 2^p >= 16, so the registers read as whole 8-byte lanes
    val lanes = ByteBuffer.wrap(regs)
    var lane = 0
    while (lane < m) {
      if (lanes.getLong(lane) != 0L) {
        var i = lane
        while (i < lane + 8) {
          if (regs(i) != 0) { at = putVarint(out, at, (i - prev).toLong << 6 | regs(i)); prev = i }
          i += 1
        }
      }
      lane += 8
    }
    out
  }

  /** The HLL layout rule over the m registers at `regs(from)`: the
    * compact payload as `payload << 20 | occupied` when it is strictly
    * smaller than dense, else -1. A register outside 0..63 (only a
    * damaged dense blob holds one) keeps the dense layout, which holds
    * any byte. m is a multiple of 8. */
  private def hllCompact(regs: Array[Byte], from: Int, m: Int): Long = {
    val dense = 4L + m
    val lanes = ByteBuffer.wrap(regs)
    var body = 4L + 1 // p, and a count varint of at least one byte
    var n = 0
    var prev = -1
    var lane = 0
    while (lane < m) {
      if (lanes.getLong(from + lane) != 0L) {
        var i = lane
        while (i < lane + 8) {
          val r = regs(from + i)
          if (r != 0) {
            if (r < 0 || r > 63) return -1L
            body += (if (i - prev == 1) 1 else varintSize((i - prev).toLong << 6))
            prev = i
            n += 1
          }
          i += 1
        }
        if (body >= dense) return -1L
      }
      lane += 8
    }
    val payload = body - 1 + varintSize(n)
    if (payload < dense) payload << 20 | n else -1L
  }

  def decodeHll(bytes: Array[Byte]): HLLSketch = decodeAs(bytes, TypeId.Hll).asInstanceOf[HLLSketch]

  private def hllBody(bytes: Array[Byte], bb: ByteBuffer, out: Decoded): Boolean = {
    val check = out == null
    val p = bb.getInt()
    if (p < 4 || p > 18) fail(s"corrupt HLL blob: precision $p outside [4,18]")
    val m = 1 << p
    val regs = if (check) null else new Array[Byte](m)
    // v1 is dense; v3 (and v4, never written) sparse; v5 compact; v2 is
    // AMBIGUOUS (one build stamped v2 on dense payloads, another briefly
    // wrote sparse payloads as v2) — but the sparse layout is only ever
    // chosen when STRICTLY smaller than dense, so the blob length
    // disambiguates v2 exactly. Only v1 dense and v5 are canonical.
    val v = versionOf(bytes)
    if (v == CompactVersion) {
      val nAt = bb.position()
      val n = getIntVarint(bb, "compact HLL")
      if (!(n <= m && n <= bb.remaining))
        fail(s"corrupt compact HLL blob: $n registers in ${bb.remaining} bytes")
      if (check && !minimalVarint(bytes, nAt, bb.position())) return false
      var prev = -1
      var i = 0
      while (i < n) {
        val at = bb.position()
        val e = getVarint(bb)
        val gap = e >>> 6
        if (!(gap >= 1 && gap < m - prev)) fail("corrupt compact HLL blob (index)")
        prev += gap.toInt
        if (!check) regs(prev) = (e & 0x3f).toByte
        else if ((e & 0x3f) == 0 || !minimalVarint(bytes, at, bb.position())) return false
        i += 1
      }
      if (check) return !bb.hasRemaining && bytes.length - 6L < 4 + m
    } else if (v >= SparseVersion || (v == 2 && bytes.length != 10 + m)) {
      if (check) return false
      val n = bb.getInt()
      var i = 0
      var prevIdx = -1
      while (i < n) {
        val packed = bb.getInt()
        val idx = packed >>> 6
        require(idx > prevIdx && idx < m, "corrupt sparse HLL blob")
        regs(idx) = (packed & 0x3f).toByte
        prevIdx = idx
        i += 1
      }
    } else if (check) {
      return v == MinVersion && bytes.length == 10 + m && hllCompact(bytes, 10, m) < 0
    } else {
      bb.get(regs)
    }
    if (!check) out.sketch = new HLLSketch(p, regs)
    true
  }

  // -------------------------------------------------------------- CMS
  // v1/v2 (dense): keyMode(1) depth(4) width(4) total(8) counters(8 * d*w)
  // v3 (sparse): keyMode(1) depth(4) width(4) total(8) count(4)
  //              [idx(4) value(8)]*count — nonzero cells only, ascending
  //              idx into the row-major d×w grid.
  //
  // Sparse iff strictly smaller, as for HLL: a grouped CMS table is
  // mostly near-empty grids — a d=5,w=2719 dense grid is ~109 KiB per
  // group; a group with 100 distinct items encodes in ~6 KiB.
  def encodeCms(s: CMSSketch, keyMode: Byte = KeyMode.Bytes): Array[Byte] = {
    val c = s.counters
    var nonzero = 0
    var i = 0
    while (i < c.length) { if (c(i) != 0L) nonzero += 1; i += 1 }
    val sparse = cmsSparse(nonzero, c.length)
    val bb = writer(TypeId.Cms, 1 + 4 + 4 + 8 + (if (sparse) 4 + 12 * nonzero else 8 * c.length),
      if (sparse) SparseVersion else MinVersion)
    bb.put(keyMode).putInt(s.depth).putInt(s.width).putLong(s.totalCount)
    if (!sparse) bb.asLongBuffer().put(c)
    else {
      bb.putInt(nonzero)
      i = 0
      while (i < c.length) { if (c(i) != 0L) bb.putInt(i).putLong(c(i)); i += 1 }
    }
    bb.array()
  }

  /** The CMS layout rule: sparse iff strictly smaller than dense. */
  private def cmsSparse(nonzero: Long, cells: Long): Boolean = 4 + 12 * nonzero < 8 * cells

  def decodeCms(bytes: Array[Byte]): CMSSketch = decodeAs(bytes, TypeId.Cms).asInstanceOf[CMSSketch]

  private def cmsBody(bytes: Array[Byte], bb: ByteBuffer, out: Decoded): Boolean = {
    val check = out == null
    bb.get() // keyMode — surfaced via cmsKeyMode; any byte round-trips
    val d = bb.getInt()
    val w = bb.getInt()
    val total = bb.getLong()
    val n = d.toLong * w
    if (!(d > 0 && w > 0 && n <= Int.MaxValue)) fail(s"corrupt CMS blob: $d x $w counters")
    requireHeapFits(8 * n, "CMS")
    // v1 dense, v3 sparse, v2 length-disambiguated (see hllBody)
    val v = versionOf(bytes)
    val denseLen = 6 + 1 + 4 + 4 + 8 + 8 * n
    val sparse = v >= SparseVersion || (v == 2 && bytes.length != denseLen)
    if (!(sparse || 8 * n <= bb.remaining))
      fail(s"corrupt dense CMS blob: $d x $w counters in ${bb.remaining} bytes")
    val counters = if (check) null else new Array[Long](n.toInt)
    if (sparse) {
      val nz = bb.getInt()
      if (check && !(v == SparseVersion && cmsSparse(nz, n) && bytes.length == 27 + 12L * nz)) return false
      var i = 0
      var prevIdx = -1
      while (i < nz) {
        val idx = bb.getInt()
        require(idx > prevIdx && idx < n, "corrupt sparse CMS blob")
        val c = bb.getLong()
        if (!check) counters(idx) = c
        else if (c == 0L) return false
        prevIdx = idx
        i += 1
      }
    } else if (!check) bb.asLongBuffer().get(counters)
    else {
      if (v != MinVersion || bytes.length != denseLen) return false
      var nonzero = 0
      var i = 0
      while (i < n) { if (bb.getLong() != 0L) nonzero += 1; i += 1 }
      return !cmsSparse(nonzero, n)
    }
    if (!check) out.sketch = new CMSSketch(d, w, counters, total)
    true
  }

  /** Key convention of an encoded CMS blob (header is 6 bytes). */
  def cmsKeyMode(bytes: Array[Byte]): Byte = {
    require(bytes.length >= 7 && typeOf(bytes) == TypeId.Cms, "not a CMS blob")
    bytes(6)
  }

  // -------------------------------------------------------------- TDigest
  // v1: compression(8) min(8) max(8) n(4) [mean(8) weight(8)]*n
  // v5 (compact): compression(8) min(8) max(8) n(varint)
  //               [mean(8) weight(varint)]*n
  // A centroid's weight is the number of points it holds (each update
  // weighs 1, a merge adds weights), so every digest update and merge
  // build is written v5, most tail weights in one byte. A digest with a
  // weight that is not a whole number in [0, 2^53] (fromCentroids can
  // build one, and a v1 blob can hold one) keeps the v1 layout, so
  // encode(decode(b)) is exact for both.
  def encodeTDigest(s: TDigestSketch): Array[Byte] = {
    val (means, weights) = s.centroids
    val n = means.length
    var body = 0L
    var i = 0
    while (i < n && body >= 0) {
      val w = weights(i)
      body = if (wholeWeight(w)) body + 8 + varintSize(w.toLong) else -1L
      i += 1
    }
    if (body < 0) {
      val bb = writer(TypeId.TDigest, 8 + 8 + 8 + 4 + 16 * n, MinVersion)
        .putDouble(s.compression).putDouble(s.minValue).putDouble(s.maxValue).putInt(n)
      i = 0
      while (i < n) { bb.putDouble(means(i)); bb.putDouble(weights(i)); i += 1 }
      return bb.array()
    }
    val bb = writer(TypeId.TDigest, (24 + varintSize(n) + body).toInt, CompactVersion)
      .putDouble(s.compression).putDouble(s.minValue).putDouble(s.maxValue)
    val out = bb.array()
    var at = putVarint(out, bb.position(), n)
    i = 0
    while (i < n) {
      bb.putDouble(at, means(i))
      at = putVarint(out, at + 8, weights(i).toLong)
      i += 1
    }
    out
  }

  private val MaxWholeWeight = (1L << 53).toDouble

  /** A weight the compact layout holds exactly: a whole number in [0, 2^53]. */
  private def wholeWeight(w: Double): Boolean = w >= 0 && w <= MaxWholeWeight && w == Math.rint(w)

  def decodeTDigest(bytes: Array[Byte]): TDigestSketch =
    decodeAs(bytes, TypeId.TDigest).asInstanceOf[TDigestSketch]

  private def tdigestBody(bytes: Array[Byte], bb: ByteBuffer, out: Decoded): Boolean = {
    val check = out == null
    val compact = versionOf(bytes) == CompactVersion
    val compression = bb.getDouble()
    val minV = bb.getDouble()
    val maxV = bb.getDouble()
    val nAt = bb.position()
    val n = if (compact) getIntVarint(bb, "t-digest") else bb.getInt()
    // a centroid is mean(8) and a weight of 8 bytes, or of at least one
    if (!(n >= 0 && (if (compact) 9L else 16L) * n <= bb.remaining))
      fail(s"corrupt t-digest blob: $n centroids in ${bb.remaining} bytes")
    // TDigestSketch refuses a compression under 20; only v1 and v5 are
    // written, and v1 only for a digest with a weight v5 cannot hold
    if (check && (!(compression >= 20) || (if (compact) !minimalVarint(bytes, nAt, bb.position())
        else versionOf(bytes) != MinVersion || 16L * n != bb.remaining))) return false
    val means = if (check) null else new Array[Double](n)
    val weights = if (check) null else new Array[Double](n)
    var i = 0
    while (i < n) {
      val mean = bb.getDouble()
      val w =
        if (!compact) bb.getDouble()
        else {
          val at = bb.position()
          val x = getVarint(bb)
          if (!(x >= 0 && x <= (1L << 53))) fail(s"corrupt t-digest blob: weight $x")
          if (check && !minimalVarint(bytes, at, bb.position())) return false
          x.toDouble
        }
      if (!check) { means(i) = mean; weights(i) = w }
      else if (!compact && !wholeWeight(w)) return true
      i += 1
    }
    if (check) return compact && !bb.hasRemaining
    val t = TDigestSketch.fromCentroids(compression, means, weights)
    t.minValue = minV
    t.maxValue = maxV
    out.sketch = t
    true
  }

  // -------------------------------------------------------------- KLL
  // payload: k(4) n(8) minV(8) maxV(8) numLevels(4) [levelLen(4)]* [items(8)...]
  def encodeKll(s: KLLSketch): Array[Byte] = {
    val levels = s.levelsSnapshot
    val nItems = levels.map(_.length).sum
    val bb = writer(TypeId.Kll, 4 + 8 + 8 + 8 + 4 + 4 * levels.length + 8 * nItems, MinVersion)
      .putInt(s.k).putLong(s.count).putDouble(s.minValue).putDouble(s.maxValue).putInt(levels.length)
    levels.foreach(l => bb.putInt(l.length))
    levels.foreach(l => l.foreach(bb.putDouble))
    bb.array()
  }

  def decodeKll(bytes: Array[Byte]): KLLSketch = decodeAs(bytes, TypeId.Kll).asInstanceOf[KLLSketch]

  private def kllBody(bytes: Array[Byte], bb: ByteBuffer, out: Decoded): Boolean = {
    val check = out == null
    val k = bb.getInt()
    val count = bb.getLong()
    val minV = bb.getDouble()
    val maxV = bb.getDouble()
    val nLevels = bb.getInt()
    if (!(nLevels >= 0 && 4L * nLevels <= bb.remaining))
      fail(s"corrupt KLL blob: $nLevels levels in ${bb.remaining} bytes")
    // KLLSketch refuses k under 8, and gives a sketch of no levels one
    if (check && (versionOf(bytes) != MinVersion || k < 8 || nLevels < 1)) return false
    val lensAt = bb.position()
    bb.position(lensAt + 4 * nLevels)
    val levels = if (check) null else new Array[Array[Double]](nLevels)
    var l = 0
    while (l < nLevels) {
      val len = bb.getInt(lensAt + 4 * l)
      if (!(len >= 0 && 8L * len <= bb.remaining))
        fail(s"corrupt KLL blob: a $len-item level in ${bb.remaining} bytes")
      if (!check) { levels(l) = new Array[Double](len); bb.asDoubleBuffer().get(levels(l)) }
      bb.position(bb.position() + 8 * len)
      l += 1
    }
    if (check) return !bb.hasRemaining
    out.sketch = KLLSketch.fromLevels(k, count, minV, maxV, levels)
    true
  }

  // -------------------------------------------------------------- Theta
  // payload: k(4) thetaU(8) count(4) [entry(8)...] (entries unsigned-sorted)
  def encodeTheta(s: ThetaSketch): Array[Byte] = {
    val es = s.entriesArray
    val bb = writer(TypeId.Theta, 4 + 8 + 4 + 8 * es.length, MinVersion)
      .putInt(s.k).putLong(s.thetaLong).putInt(es.length)
    es.foreach(bb.putLong)
    bb.array()
  }

  def decodeTheta(bytes: Array[Byte]): ThetaSketch = decodeAs(bytes, TypeId.Theta).asInstanceOf[ThetaSketch]

  private def thetaBody(bytes: Array[Byte], bb: ByteBuffer, out: Decoded): Boolean = {
    val check = out == null
    val k = bb.getInt()
    val thetaU = bb.getLong()
    val n = bb.getInt()
    if (!(n >= 0 && 8L * n <= bb.remaining))
      fail(s"corrupt theta blob: $n entries in ${bb.remaining} bytes")
    // fromState refuses more than k entries, or one not below theta; the
    // encoder writes each retained entry once, in unsigned order
    if (check && (versionOf(bytes) != MinVersion || n > k || 8L * n != bb.remaining)) return false
    val es = if (check) null else new Array[Long](n)
    var prev = 0L
    var i = 0
    while (i < n) {
      val e = bb.getLong()
      if (!check) es(i) = e
      else if ((i > 0 && java.lang.Long.compareUnsigned(prev, e) >= 0) ||
          (thetaU != ThetaSketch.ExactTheta && java.lang.Long.compareUnsigned(e, thetaU) >= 0))
        return false
      prev = e
      i += 1
    }
    if (!check) out.sketch = ThetaSketch.fromState(k, thetaU, es)
    true
  }

  // ------------------------------------------------------------ Bottom-k
  // payload: k(4) count(4) [hash(8) keyLen(4) keyBytes...]*
  def encodeBottomK(s: BottomKSketch): Array[Byte] = {
    val es = s.entriesSeq
    val payload = 4 + 4 + es.map(e => 8 + 4 + e._2.length).sum
    val bb = writer(TypeId.BottomK, payload, MinVersion).putInt(s.k).putInt(es.size)
    es.foreach { case (h, kb) => bb.putLong(h); bb.putInt(kb.length); bb.put(kb) }
    bb.array()
  }

  def decodeBottomK(bytes: Array[Byte]): BottomKSketch =
    decodeAs(bytes, TypeId.BottomK).asInstanceOf[BottomKSketch]

  private def bottomKBody(bytes: Array[Byte], bb: ByteBuffer, out: Decoded): Boolean = {
    val check = out == null
    val k = bb.getInt()
    val n = bb.getInt()
    // an entry is hash(8) keyLen(4) key
    requireEntries(n, 12, bb, "bottom-k")
    // fromEntries refuses more than k entries; the encoder writes each
    // hash once, in unsigned order
    if (check && (versionOf(bytes) != MinVersion || n > k)) return false
    val es = new Array[(Long, Array[Byte])](if (check) 0 else n)
    var prev = 0L
    var i = 0
    while (i < n) {
      val h = bb.getLong()
      val len = bb.getInt()
      requireKey(len, 12L * (n - 1 - i), bb, "bottom-k")
      if (!check) es(i) = (h, take(bb, len))
      else if (i > 0 && java.lang.Long.compareUnsigned(prev, h) >= 0) return false
      else bb.position(bb.position() + len)
      prev = h
      i += 1
    }
    if (check) return !bb.hasRemaining
    out.sketch = BottomKSketch.fromEntries(k, ArraySeq.unsafeWrapArray(es))
    true
  }

  /** The next `len` bytes of `bb`. */
  private def take(bb: ByteBuffer, len: Int): Array[Byte] = { val a = new Array[Byte](len); bb.get(a); a }

  // ------------------------------------------------------- Misra-Gries
  // payload: k(4) decremented(8) n(8) count(4) [keyLen(4) key... count(8)]*
  // entries in unsigned-lexicographic key order — canonical for a GIVEN
  // logical state (the state itself is merge-tree dependent, like
  // t-digest; bounds hold under every tree)
  def encodeMg(s: MGSketch): Array[Byte] = {
    val es = s.entriesByKey
    val payload = 4 + 8 + 8 + 4 + es.map(e => 4 + e._1.length + 8).sum
    val bb = writer(TypeId.Mg, payload, MinVersion)
      .putInt(s.k).putLong(s.decrementTotal).putLong(s.processedCount).putInt(es.size)
    es.foreach { case (kb, c) => bb.putInt(kb.length); bb.put(kb); bb.putLong(c) }
    bb.array()
  }

  def decodeMg(bytes: Array[Byte]): MGSketch = decodeAs(bytes, TypeId.Mg).asInstanceOf[MGSketch]

  private def mgBody(bytes: Array[Byte], bb: ByteBuffer, out: Decoded): Boolean = {
    val check = out == null
    val k = bb.getInt()
    val dec = bb.getLong()
    val n = bb.getLong()
    val cnt = bb.getInt()
    // an entry is keyLen(4) key count(8): each length is checked against
    // the bytes left for it and the entries after it, O(1) per field
    requireEntries(cnt, 12, bb, "Misra-Gries")
    // MGSketch refuses k under 1, more than k entries, a count under 1 or
    // a repeated key; the encoder writes the keys in unsigned order
    if (check && (versionOf(bytes) != MinVersion || k < 1 || cnt > k)) return false
    val es = new Array[(Array[Byte], Long)](if (check) 0 else cnt)
    var prevAt = 0
    var prevLen = 0
    var i = 0
    while (i < cnt) {
      val len = bb.getInt()
      requireKey(len, 8 + 12L * (cnt - 1 - i), bb, "Misra-Gries")
      val at = bb.position()
      if (!check) es(i) = (take(bb, len), bb.getLong())
      else {
        bb.position(at + len)
        if (bb.getLong() <= 0L || (i > 0 && java.util.Arrays.compareUnsigned(
            bytes, prevAt, prevAt + prevLen, bytes, at, at + len) >= 0)) return false
      }
      prevAt = at
      prevLen = len
      i += 1
    }
    if (check) return !bb.hasRemaining
    out.sketch = MGSketch.fromEntries(k, ArraySeq.unsafeWrapArray(es), dec, n)
    true
  }

  // ------------------------------------------ weighted bottom-k (A-ES)
  // v1: k(4) n(4) [race(8, IEEE double) keyHash(8) keyLen(4) key]*
  // v5 (compact): k(varint) n(varint) [race(8) keyLen(varint) key]*
  // The key hash is not stored: it is xxHash64(key, 0), as update makes
  // it, and the decoder recomputes it (a v1 entry whose stored hash is
  // not that hash is refused; no encoder wrote one). Entries in race
  // order, ties in unsigned hash order — canonical (the retained set and
  // its order are pure functions of the logical sample, independent of
  // merge tree).
  def encodeWeightedBottomK(s: WeightedBottomKSketch): Array[Byte] = {
    val es = s.entriesSeq
    var payload = varintSize(s.k) + varintSize(es.size)
    es.foreach(e => payload += 8 + varintSize(e._3.length) + e._3.length)
    val bb = writer(TypeId.WeightedBottomK, payload, CompactVersion)
    val out = bb.array()
    var at = putVarint(out, putVarint(out, bb.position(), s.k), es.size)
    es.foreach { case (r, _, kb) =>
      bb.putDouble(at, r)
      at = putVarint(out, at + 8, kb.length)
      System.arraycopy(kb, 0, out, at, kb.length)
      at += kb.length
    }
    out
  }

  def decodeWeightedBottomK(bytes: Array[Byte]): WeightedBottomKSketch =
    decodeAs(bytes, TypeId.WeightedBottomK).asInstanceOf[WeightedBottomKSketch]

  private def weightedBottomKBody(bytes: Array[Byte], bb: ByteBuffer, out: Decoded): Boolean = {
    val check = out == null
    val compact = versionOf(bytes) == CompactVersion
    val kAt = bb.position()
    val k = if (compact) getIntVarint(bb, "weighted bottom-k") else bb.getInt()
    val nAt = bb.position()
    val n = if (compact) getIntVarint(bb, "weighted bottom-k") else bb.getInt()
    // an entry is race(8) keyLen(1+) key, or v1 race(8) keyHash(8) keyLen(4) key
    val minEntry = if (compact) 9 else 20
    requireEntries(n, minEntry, bb, "weighted bottom-k")
    // fromEntries refuses k under 1, more than k entries, or a race that
    // is not finite and >= 0; the encoder writes v5, minimal varints,
    // each (race, hash) once, in race order, ties in unsigned hash order
    if (check && (!compact || k < 1 || n > k || !minimalVarint(bytes, kAt, nAt) ||
        !minimalVarint(bytes, nAt, bb.position()))) return false
    val es = new Array[(Double, Long, Array[Byte])](if (check) 0 else n)
    var prevR = 0.0
    var prevAt = 0
    var prevLen = 0
    var i = 0
    while (i < n) {
      val r = bb.getDouble()
      val stored = if (compact) 0L else bb.getLong()
      val lenAt = bb.position()
      val len = if (compact) getIntVarint(bb, "weighted bottom-k") else bb.getInt()
      requireKey(len, minEntry.toLong * (n - 1 - i), bb, "weighted bottom-k")
      val at = bb.position()
      bb.position(at + len)
      if (!check) {
        val key = java.util.Arrays.copyOfRange(bytes, at, at + len)
        val h = Hashing.xxHash64(key, 0L)
        if (!compact && stored != h) fail("corrupt weighted bottom-k blob: a key hash that is not its key's")
        es(i) = (r, h, key)
      } else {
        val c = java.lang.Double.compare(prevR, r)
        // a tie in race is broken by the keys' hashes, computed only then
        if (!java.lang.Double.isFinite(r) || r < 0.0 || !minimalVarint(bytes, lenAt, at) ||
            (i > 0 && (c > 0 || (c == 0 && java.lang.Long.compareUnsigned(
              keyHash(bytes, prevAt, prevLen), keyHash(bytes, at, len)) >= 0))))
          return false
      }
      prevR = r
      prevAt = at
      prevLen = len
      i += 1
    }
    if (check) return !bb.hasRemaining
    out.sketch = WeightedBottomKSketch.fromEntries(k, ArraySeq.unsafeWrapArray(es))
    true
  }

  /** The key hash of a weighted sample entry whose key is `bytes(at until at + len)`. */
  private def keyHash(bytes: Array[Byte], at: Int, len: Int): Long =
    Hashing.xxHash64(java.util.Arrays.copyOfRange(bytes, at, at + len), 0L)

  // ----------------------------------------------------- Counting Bloom
  // v1: keyMode(1) hasherId(1) capacity(8) fpp(8) layout(1) body
  //   layout 0 (dense):  nCells(4), cell bytes
  //   layout 1 (sparse): nOccupied(4), then per occupied cell a LEB128
  //     varint DELTA of the ascending cell index (first delta = first
  //     index) followed by the cell's count byte.
  // Sparse iff strictly smaller, as for HLL/CMS: a counting filter at
  // its design fill (~48% of cells occupied at optimal k) encodes dense;
  // grouped/windowed small filters go sparse at ≤ ~20% fill (5 bytes
  // worst-case per occupied cell vs 1 byte per cell dense).
  def encodeCountingBloom(s: CountingBloomSketch,
      keyMode: Byte = KeyMode.Bytes): Array[Byte] = {
    require(s.hasherId >= 0,
      "custom (unregistered) hash pairs cannot cross the codec — register " +
        "the pair with a stable id in KMHashPair to use it in Spark aggregation")
    val cells = s.cells
    val n = cells.length
    val payload = math.min(countingSparsePayload(cells, 0, n), CountingHeader + 4L + n)
    val sparse = payload < CountingHeader + 4L + n
    val bb = writer(TypeId.CountingBloom, payload.toInt, MinVersion)
      .put(keyMode).put(s.hasherId).putLong(s.config.capacity).putDouble(s.config.fpp)
    if (!sparse) return bb.put(0: Byte).putInt(n).put(cells).array()
    bb.put(1: Byte)
    val nzAt = bb.position()
    bb.position(nzAt + 4)
    var nz = 0
    var prev = 0
    var j = 0
    while (j < n) {
      if (cells(j) != 0) {
        putVarint(bb, (if (nz == 0) j else j - prev).toLong)
        bb.put(cells(j))
        prev = j
        nz += 1
      }
      j += 1
    }
    bb.putInt(nzAt, nz).array()
  }

  private val CountingHeader = 2 + 16 + 1

  /** The sparse counting-Bloom payload of the `n` cells at `cells(from)`;
    * the encoder writes it iff it is strictly smaller than dense. */
  private def countingSparsePayload(cells: Array[Byte], from: Int, n: Int): Long = {
    var body = 4L
    var nz = 0
    var prev = 0
    var j = 0
    while (j < n) {
      if (cells(from + j) != 0) {
        body += varintSize((if (nz == 0) j else j - prev).toLong) + 1
        prev = j
        nz += 1
      }
      j += 1
    }
    CountingHeader + body
  }

  def decodeCountingBloom(bytes: Array[Byte]): CountingBloomSketch =
    decodeAs(bytes, TypeId.CountingBloom).asInstanceOf[CountingBloomSketch]

  private def countingBloomBody(bytes: Array[Byte], bb: ByteBuffer, out: Decoded): Boolean = {
    val check = out == null
    bb.get() // keyMode — surfaced via countingBloomKeyMode; any byte round-trips
    val hasherId = bb.get()
    if (check && (versionOf(bytes) != MinVersion || !registeredPair(hasherId))) return false
    val config = BloomConfig(bb.getLong(), bb.getDouble())
    // one byte per cell: the configured size must fit one array and the
    // heap before either layout allocates it
    if (config.totalBits > Int.MaxValue)
      fail(s"corrupt counting Bloom blob: ${config.totalBits} cells past one array")
    requireHeapFits(config.totalBits, "counting Bloom")
    val dense = CountingHeader + 4 + config.totalBits
    val cells = bb.get() match {
      case 0 =>
        val n = bb.getInt()
        if (!(n.toLong == config.totalBits && n <= bb.remaining))
          fail(s"corrupt counting Bloom blob: cell count $n, configured " +
            s"${config.totalBits}, in ${bb.remaining} bytes")
        if (check) return bb.remaining == n && !(countingSparsePayload(bytes, bb.position(), n) < dense)
        take(bb, n)
      case 1 =>
        val c = if (check) null else new Array[Byte](config.totalBits.toInt)
        val nz = bb.getInt()
        // an occupied cell is a varint delta (>= 1 byte) and a count byte
        if (!(nz >= 0 && 2L * nz <= bb.remaining))
          fail(s"corrupt counting Bloom blob: $nz occupied cells in ${bb.remaining} bytes")
        var idx = 0L
        var i = 0
        while (i < nz) {
          val at = bb.position()
          val d = getVarint(bb)
          // corrupt/truncated varint deltas must surface as the codec's
          // descriptive error, not a raw ArrayIndexOutOfBounds (the
          // dense path validates its cell count the same way); a varint
          // above 2^63 reads as negative, so compare before adding
          if (!(d >= 0 && d < config.totalBits - idx))
            fail(s"counting blob sparse cell index $idx + $d outside configured " +
              s"${config.totalBits} cells — corrupt blob")
          idx += d
          val cell = bb.get()
          if (!check) c(idx.toInt) = cell
          // minimal varints, strictly ascending cells, no zero count
          else if (!minimalVarint(bytes, at, bb.position() - 1) || (d == 0 && i > 0) || cell == 0)
            return false
          i += 1
        }
        if (check) return !bb.hasRemaining && bytes.length - 6 < dense
        c
      case other => throw new IllegalArgumentException(
        s"unknown counting-Bloom layout $other")
    }
    out.sketch = new CountingBloomSketch(config, cells, KMHashPair.byId(hasherId))
    true
  }

  /** KeyMode byte of an encoded counting-Bloom blob (probe-path guard,
    * same contract as the Bloom/CMS key-mode sniffers). */
  def countingBloomKeyMode(bytes: Array[Byte]): Byte = typed {
    reader(bytes, TypeId.CountingBloom).get()
  }
}
