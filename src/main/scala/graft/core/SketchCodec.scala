package graft.core

import java.nio.{ByteBuffer, ByteOrder}

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
  //     sparse (round 5 — see encodeBloom). v4, NOT v3: the pre-round-5
  //     reader already accepts v3 globally (HLL/CMS sparse) but has no
  //     Bloom sparse branch — a v3 sparse Bloom would MISPARSE there
  //     (reads the sparse numBits field as nWords, then buffer
  //     underflow), not fail fast. v4 is above that reader's max
  //     accepted version, so it rejects with the curated version error.
  //     The decoder still accepts v3 sparse Bloom blobs (emitted
  //     briefly intra-round-5; Bloom never emitted v3 dense, so the
  //     byte is unambiguous).
  //   - HLL/CMS: DENSE blobs are written v1 (byte-identical layout to
  //     every earlier build); a blob whose occupied cells are few enough
  //     that the SPARSE layout is strictly smaller is stamped v3 and
  //     encoded sparse (see encodeHll/encodeCms). v3, NOT v2: one
  //     earlier build stamped version 2 on every type while still
  //     writing the DENSE layout, so v2 must keep decoding as dense —
  //     reusing it for sparse would silently misdecode that build's
  //     persisted HLL/CMS blobs (checkpoints, sketch-table columns).
  //     The dense/sparse choice is a pure function of the logical
  //     sketch state, so equal sketches always encode to equal bytes
  //     regardless of merge order — the canonical-encoding property
  //     every bit-identity gate (q33, state-identity suites) relies on.
  //     An older reader keeps accepting every dense blob and FAILS FAST
  //     (version check) on a sparse v3 one, rather than misreading it.
  //   - theta/KLL/t-digest/bottom-k: content-proportional payloads,
  //     written v1; v2 blobs from the earlier always-v2 build decode
  //     identically (the version byte never changed their layout).
  private val Version: Byte = 4 // max accepted by readers
  private val BloomVersion: Byte = 2
  private val SparseVersion: Byte = 3
  private val BloomSparseVersion: Byte = 4
  private val MinVersion: Byte = 1

  private def writer(typeId: Byte, payloadSize: Int, version: Byte): ByteBuffer = {
    val bb = ByteBuffer.allocate(6 + payloadSize).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(Magic).put(typeId).put(version)
    bb
  }

  /** Returns the buffer positioned at the payload; version via [[versionOf]]. */
  private def reader(bytes: Array[Byte], expectType: Byte): ByteBuffer = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val m = new Array[Byte](4)
    bb.get(m)
    require(java.util.Arrays.equals(m, Magic), "not a graft sketch (bad magic)")
    val t = bb.get()
    require(t == expectType, s"sketch type mismatch: expected $expectType, got $t")
    val v = bb.get()
    require(v >= MinVersion && v <= Version, s"unsupported sketch codec version $v")
    bb
  }

  private def versionOf(bytes: Array[Byte]): Byte = bytes(5)

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
    require(size <= heap, s"corrupt $what blob: declares $size bytes, more than the $heap-byte heap")
  }

  /** An entry count `n` whose entries take at least `minEntry` bytes
    * each must fit in the bytes that follow it. */
  private def requireEntries(n: Int, minEntry: Int, bb: ByteBuffer, what: String): Unit =
    require(n >= 0 && minEntry.toLong * n <= bb.remaining,
      s"corrupt $what blob: $n entries in ${bb.remaining} bytes")

  /** A key length must leave room for the rest of its entry (`after`
    * bytes) and the minimum of every entry after it. */
  private def requireKey(len: Int, after: Long, bb: ByteBuffer, what: String): Unit =
    require(len >= 0 && len + after <= bb.remaining,
      s"corrupt $what blob: a $len-byte key in ${bb.remaining} bytes")

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
    try typeOf(bytes) match {
      case TypeId.Bloom => decodeBloom(bytes).toString
      case TypeId.Hll => decodeHll(bytes).toString
      case TypeId.Cms => decodeCms(bytes).toString
      case TypeId.TDigest => decodeTDigest(bytes).toString
      case TypeId.Kll => decodeKll(bytes).toString
      case TypeId.Theta => decodeTheta(bytes).toString
      case TypeId.BottomK => decodeBottomK(bytes).toString
      case TypeId.Mg => decodeMg(bytes).toString
      case TypeId.WeightedBottomK => decodeWeightedBottomK(bytes).toString
      case TypeId.CountingBloom => decodeCountingBloom(bytes).toString
      case other => s"unknown sketch type $other (${bytes.length} bytes)"
    } catch {
      case e: Exception =>
        s"invalid sketch blob (${bytes.length} bytes): ${e.getMessage}"
    }

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
  // (window, tool) — is dominated by lightly-filled filters; shipping
  // the full m bits per group through every shuffle/state-store/
  // sketch-table column was the one dense-only payload left after the
  // round-3 HLL/CMS sparse codec. CANONICAL by the same rule: the
  // encoding is a pure function of the BIT STATE (exact size of all
  // three layouts computed, strictly-smallest wins; dense wins ties,
  // offset beats RLE at equal size), so equal filters encode to equal
  // bytes under any merge tree — every bit-identity gate (q03 union ≡
  // bulk, q33 windowed_eq) is preserved. Sparse blobs are stamped v4 —
  // ABOVE the pre-round-5 reader's max accepted version — so that
  // reader fails fast on the version check instead of misparsing the
  // sparse layout as dense; v1/v2 blobs keep decoding everywhere.
  // Reference contrast: bitset.rs:3–6 is dense-only — it never holds
  // thousands of filters at once.
  def encodeBloom(s: BloomSketch, keyMode: Byte = KeyMode.Bytes): Array[Byte] = {
    require(s.hasherId >= 0,
      "custom (unregistered) hash pairs cannot cross the codec — register " +
        "the pair with a stable id in KMHashPair to use it in Spark aggregation")
    val w = s.bits.words
    val nW = w.length
    val sizer = new BloomSizer
    var wi = 0
    while (wi < nW) {
      val word = w(wi)
      if (word != 0L) sizer.word(wi, word)
      wi += 1
    }
    val densePayload = 3 + 16 + 4 + 8 + 8 * nW
    val offsetPayload = BloomSparseHeader + sizer.offsetBody
    // the offset list wins outright when it is no larger than the
    // word-RLE lower bound; only otherwise is the word-RLE body sized
    val offsetWins = offsetPayload < densePayload && offsetPayload <= rlePayloadAtLeast(sizer.words)
    val rlePayload =
      if (offsetWins) Int.MaxValue
      else {
        wi = 0
        while (wi < nW) { if (w(wi) != 0L) sizer.rleWord(wi); wi += 1 }
        BloomSparseHeader + sizer.rleBody
      }

    def putSparseHeader(bb: ByteBuffer, layout: Byte): Unit = {
      bb.put(s.variant); bb.put(keyMode); bb.put(s.hasherId)
      bb.putLong(s.config.capacity); bb.putDouble(s.config.fpp)
      bb.putLong(s.bits.numBits); bb.put(layout)
    }
    if (offsetWins || (offsetPayload < densePayload && offsetPayload <= rlePayload)) {
      val bb = writer(TypeId.Bloom, offsetPayload, BloomSparseVersion)
      putSparseHeader(bb, 0)
      bb.putInt(sizer.ones)
      val out = bb.array()
      var at = bb.position()
      var prevPos = 0L
      wi = 0
      while (wi < nW) {
        var bits = w(wi)
        while (bits != 0L) {
          val pos = wi.toLong * 64 + java.lang.Long.numberOfTrailingZeros(bits)
          at = putVarint(out, at, pos - prevPos)
          prevPos = pos
          bits &= bits - 1
        }
        wi += 1
      }
      out
    } else if (rlePayload < densePayload) {
      val bb = writer(TypeId.Bloom, rlePayload, BloomSparseVersion)
      putSparseHeader(bb, 1)
      wi = 0
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
      bb.array()
    } else {
      val bb = writer(TypeId.Bloom, densePayload, BloomVersion)
      bb.put(s.variant)
      bb.put(keyMode)
      bb.put(s.hasherId)
      bb.putLong(s.config.capacity)
      bb.putDouble(s.config.fpp)
      bb.putInt(nW)
      bb.putLong(s.bits.numBits)
      var i = 0
      while (i < nW) { bb.putLong(w(i)); i += 1 }
      bb.array()
    }
  }

  def decodeBloom(bytes: Array[Byte]): BloomSketch = typed {
    val bb = reader(bytes, TypeId.Bloom)
    val variant = bb.get()
    bb.get() // keyMode — surfaced via bloomKeyMode
    // v1 Bloom blobs predate hash-pair injection: default pair (id 0)
    val hasherId = if (versionOf(bytes) >= 2) bb.get() else 0: Byte
    val capacity = bb.getLong()
    val fpp = bb.getDouble()
    val cfg = BloomConfig(capacity, fpp)
    // every length field is checked before it sizes an allocation, so a
    // length-inflated blob fails here instead of with OutOfMemoryError
    val bits =
      // >= 3, not == 4: early round-5 builds stamped sparse Bloom v3
      // (Bloom never emitted v3 dense, so the byte is unambiguous)
      if (versionOf(bytes) >= SparseVersion) {
        val numBits = bb.getLong()
        require(numBits == cfg.totalBits && ((numBits + 63) >>> 6) <= Int.MaxValue,
          s"corrupt Bloom blob: config says ${cfg.totalBits} bits, header has $numBits")
        val nWords = ((numBits + 63) >>> 6).toInt
        requireHeapFits(8L * nWords, "Bloom")
        val words = new Array[Long](nWords)
        bb.get() match {
          case 0 => // offset-list
            val ones = bb.getInt()
            var pos = 0L
            var at = bb.position()
            var i = 0
            while (i < ones) {
              // one-byte deltas straight from the array, longer ones via bb
              if (at < bytes.length && bytes(at) >= 0) { pos += bytes(at); at += 1 }
              else { bb.position(at); pos += getVarint(bb); at = bb.position() }
              require(pos >= 0 && pos < numBits, "corrupt sparse Bloom blob (offset)")
              words((pos >>> 6).toInt) |= 1L << (pos & 63)
              i += 1
            }
          case 1 => // word-RLE
            var wp = 0L
            while (bb.hasRemaining) {
              wp += getVarint(bb)
              val lit = getVarint(bb)
              require(wp + lit <= nWords, "corrupt sparse Bloom blob (RLE)")
              var j = 0L
              while (j < lit) { words(wp.toInt) = bb.getLong(); wp += 1; j += 1 }
            }
          case l => throw new IllegalArgumentException(s"unknown sparse Bloom layout $l")
        }
        BitArray.fromWords(words, numBits)
      } else {
        val nWords = bb.getInt()
        val numBits = bb.getLong()
        require(nWords >= 0 && nWords <= bb.remaining / 8 && numBits >= 0 &&
            nWords == ((numBits + 63) >>> 6),
          s"corrupt dense Bloom blob: $nWords words for $numBits bits in ${bb.remaining} bytes")
        val words = new Array[Long](nWords)
        var i = 0
        while (i < nWords) { words(i) = bb.getLong(); i += 1 }
        BitArray.fromWords(words, numBits)
      }
    require(cfg.totalBits == bits.numBits,
      s"corrupt Bloom blob: config says ${cfg.totalBits} bits, payload has ${bits.numBits}")
    variant match {
      case BloomVariant.KM => new KMBloomSketch(cfg, bits, KMHashPair.byId(hasherId))
      case BloomVariant.Seeded => new SeededBloomSketch(cfg, bits)
      case v => throw new IllegalArgumentException(s"unknown Bloom variant $v")
    }
  }

  // LEB128 unsigned varints (sparse Bloom bodies)
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
  private def getVarint(bb: ByteBuffer): Long = {
    var x = 0L; var shift = 0; var b = 0
    do {
      b = bb.get() & 0xff
      x |= (b & 0x7fL) << shift
      shift += 7
    } while ((b & 0x80) != 0)
    x
  }

  private val BloomSparseHeader = 3 + 16 + 8 + 1

  /** Sizes a Bloom filter's offset-list and word-RLE bodies from its
    * nonzero words, fed in ascending word order to [[word]] and
    * [[rleWord]] respectively. Within a word every offset-list delta is
    * < 64 (one varint byte), so only each nonzero word's first set bit
    * needs a real varint size; a word-RLE group is sized when its
    * literal run ends. encodeBloom and the canonical-form check both size
    * through it, so they make the same layout choice. */
  private final class BloomSizer {
    var offsetBody = 4
    var ones = 0
    var words = 0
    private var lastPos = 0L
    private var rle = 0
    private var lastWord = -1L
    private var litRun = 0

    def word(wi: Long, word: Long): Unit = {
      val first = wi * 64 + java.lang.Long.numberOfTrailingZeros(word)
      val c = java.lang.Long.bitCount(word)
      offsetBody += varintSize(if (ones == 0) first else first - lastPos) + c - 1
      ones += c
      lastPos = wi * 64 + 63 - java.lang.Long.numberOfLeadingZeros(word)
      words += 1
    }

    def rleWord(wi: Long): Unit = {
      if (litRun > 0 && wi == lastWord + 1) litRun += 1
      else {
        if (litRun > 0) rle += varintSize(litRun.toLong) + 8 * litRun
        rle += varintSize(wi - lastWord - 1)
        litRun = 1
      }
      lastWord = wi
    }

    def rleBody: Int = if (litRun > 0) rle + varintSize(litRun.toLong) + 8 * litRun else rle
  }

  /** Every nonzero word costs a word-RLE body 8 bytes. */
  private def rlePayloadAtLeast(nonZeroWords: Long): Long = BloomSparseHeader + 8L * nonZeroWords

  /** Key convention of an encoded Bloom blob (header 6 + variant 1). */
  def bloomKeyMode(bytes: Array[Byte]): Byte = {
    require(bytes.length >= 8 && typeOf(bytes) == TypeId.Bloom, "not a Bloom blob")
    bytes(7)
  }

  // -------------------------------------------------------------- HLL
  // v1/v2 (dense): p(4) registers(m bytes)
  // v3 (sparse): p(4) count(4) packed(4*count) — packed int = idx<<6 | rank
  //              (rank ≤ 64−p+1 ≤ 61 fits 6 bits; idx < 2^p ≤ 2^18 fits
  //              the rest), ascending idx.
  //
  // The layout is chosen from the LOGICAL state: sparse iff it is
  // strictly smaller (occupied < m/4 registers, minus the count field) —
  // a grouped sketch table at 10^6+ group cardinality is dominated by
  // small groups, and shipping a 16 KiB dense register file per group
  // through every partial-agg shuffle / checkpoint / sketch-table column
  // is the scale cost this removes (a 100-distinct group encodes in
  // ~0.4 KiB). Canonical by construction: equal register vectors encode
  // to equal bytes whatever the merge tree.
  def encodeHll(s: HLLSketch): Array[Byte] = {
    val regs = s.registers
    val m = regs.length
    val occupied = nonZeroBytes(regs, 0, m)
    if (4 + 4 * occupied < m) {
      val bb = writer(TypeId.Hll, 4 + 4 + 4 * occupied, SparseVersion)
      bb.putInt(s.p)
      bb.putInt(occupied)
      // m = 2^p >= 16, so the registers read as whole 8-byte lanes
      val lanes = ByteBuffer.wrap(regs)
      var lane = 0
      while (lane < m) {
        if (lanes.getLong(lane) != 0L) {
          var i = lane
          while (i < lane + 8) {
            if (regs(i) != 0) bb.putInt((i << 6) | (regs(i) & 0x3f))
            i += 1
          }
        }
        lane += 8
      }
      bb.array()
    } else {
      val bb = writer(TypeId.Hll, 4 + m, 1)
      bb.putInt(s.p)
      bb.put(regs)
      bb.array()
    }
  }

  /** Nonzero bytes in `a(from until until)`, eight at a time; the span's
    * length is a multiple of 8. */
  private def nonZeroBytes(a: Array[Byte], from: Int, until: Int): Int = {
    val lanes = ByteBuffer.wrap(a)
    var n = 0
    var i = from
    while (i < until) {
      val x = lanes.getLong(i)
      // the top bit of each byte of t is set iff that byte of x is nonzero
      if (x != 0L) {
        val t = ((x & 0x7f7f7f7f7f7f7f7fL) + 0x7f7f7f7f7f7f7f7fL) | x
        n += java.lang.Long.bitCount(t & 0x8080808080808080L)
      }
      i += 8
    }
    n
  }

  def decodeHll(bytes: Array[Byte]): HLLSketch = typed {
    val bb = reader(bytes, TypeId.Hll)
    val p = bb.getInt()
    require(p >= 4 && p <= 18, s"corrupt HLL blob: precision $p outside [4,18]")
    val regs = new Array[Byte](1 << p)
    // v1 is dense; v3 is sparse; v2 is AMBIGUOUS (one build stamped v2
    // on dense payloads, another briefly wrote sparse payloads as v2) —
    // but the sparse layout is only ever chosen when STRICTLY smaller
    // than dense, so the blob length disambiguates v2 exactly
    val denseLen = 6 + 4 + (1 << p)
    val sparse = versionOf(bytes) >= SparseVersion ||
      (versionOf(bytes) == 2 && bytes.length != denseLen)
    if (sparse) {
      val n = bb.getInt()
      var i = 0
      var prevIdx = -1
      while (i < n) {
        val packed = bb.getInt()
        val idx = packed >>> 6
        require(idx > prevIdx && idx < regs.length, "corrupt sparse HLL blob")
        regs(idx) = (packed & 0x3f).toByte
        prevIdx = idx
        i += 1
      }
    } else {
      bb.get(regs)
    }
    new HLLSketch(p, regs)
  }

  // -------------------------------------------------------------- CMS
  // v1/v2 (dense): keyMode(1) depth(4) width(4) total(8) counters(8 * d*w)
  // v3 (sparse): keyMode(1) depth(4) width(4) total(8) count(4)
  //              [idx(4) value(8)]*count — nonzero cells only, ascending
  //              idx into the row-major d×w grid.
  //
  // Same canonical dense/sparse rule as HLL: sparse iff strictly smaller
  // (a pure function of the counter grid), so equal sketches encode to
  // equal bytes under any merge order. A grouped CMS table (frequency
  // sketch per tool/domain/source) at high group cardinality is mostly
  // near-empty grids — a d=5,w=2719 dense grid is ~109 KiB per group on
  // every shuffle; a group with 100 distinct items encodes in ~6 KiB.
  def encodeCms(s: CMSSketch, keyMode: Byte = KeyMode.Bytes): Array[Byte] = {
    val n = s.counters.length
    var nonzero = 0
    var i = 0
    while (i < n) { if (s.counters(i) != 0L) nonzero += 1; i += 1 }
    val header = 1 + 4 + 4 + 8
    if (4 + 12 * nonzero < 8 * n) {
      val bb = writer(TypeId.Cms, header + 4 + 12 * nonzero, SparseVersion)
      bb.put(keyMode)
      bb.putInt(s.depth)
      bb.putInt(s.width)
      bb.putLong(s.totalCount)
      bb.putInt(nonzero)
      i = 0
      while (i < n) {
        if (s.counters(i) != 0L) { bb.putInt(i); bb.putLong(s.counters(i)) }
        i += 1
      }
      bb.array()
    } else {
      val bb = writer(TypeId.Cms, header + 8 * n, 1)
      bb.put(keyMode)
      bb.putInt(s.depth)
      bb.putInt(s.width)
      bb.putLong(s.totalCount)
      i = 0
      while (i < n) { bb.putLong(s.counters(i)); i += 1 }
      bb.array()
    }
  }

  def decodeCms(bytes: Array[Byte]): CMSSketch = typed {
    val bb = reader(bytes, TypeId.Cms)
    bb.get() // keyMode — surfaced via cmsKeyMode
    val d = bb.getInt()
    val w = bb.getInt()
    val total = bb.getLong()
    val n = d.toLong * w
    require(d > 0 && w > 0 && n <= Int.MaxValue, s"corrupt CMS blob: $d x $w counters")
    requireHeapFits(8 * n, "CMS")
    // v1 dense, v3 sparse, v2 length-disambiguated (see decodeHll)
    val denseLen = 6 + 1 + 4 + 4 + 8 + 8 * n
    val sparse = versionOf(bytes) >= SparseVersion ||
      (versionOf(bytes) == 2 && bytes.length != denseLen)
    require(sparse || 8 * n <= bb.remaining,
      s"corrupt dense CMS blob: $d x $w counters in ${bb.remaining} bytes")
    val counters = new Array[Long](n.toInt)
    if (sparse) {
      val nz = bb.getInt()
      var i = 0
      var prevIdx = -1
      while (i < nz) {
        val idx = bb.getInt()
        require(idx > prevIdx && idx < counters.length, "corrupt sparse CMS blob")
        counters(idx) = bb.getLong()
        prevIdx = idx
        i += 1
      }
    } else {
      var i = 0
      while (i < counters.length) { counters(i) = bb.getLong(); i += 1 }
    }
    new CMSSketch(d, w, counters, total)
  }

  /** Key convention of an encoded CMS blob (header is 6 bytes). */
  def cmsKeyMode(bytes: Array[Byte]): Byte = {
    require(bytes.length >= 7 && typeOf(bytes) == TypeId.Cms, "not a CMS blob")
    bytes(6)
  }

  // -------------------------------------------------------------- TDigest
  // payload: compression(8) min(8) max(8) n(4) [mean(8) weight(8)]*n
  def encodeTDigest(s: TDigestSketch): Array[Byte] = {
    val (means, weights) = s.centroids
    val bb = writer(TypeId.TDigest, 8 + 8 + 8 + 4 + 16 * means.length, MinVersion)
    bb.putDouble(s.compression)
    bb.putDouble(s.minValue)
    bb.putDouble(s.maxValue)
    bb.putInt(means.length)
    var i = 0
    while (i < means.length) { bb.putDouble(means(i)); bb.putDouble(weights(i)); i += 1 }
    bb.array()
  }

  def decodeTDigest(bytes: Array[Byte]): TDigestSketch = typed {
    val bb = reader(bytes, TypeId.TDigest)
    val compression = bb.getDouble()
    val minV = bb.getDouble()
    val maxV = bb.getDouble()
    val n = bb.getInt()
    require(n >= 0 && 16L * n <= bb.remaining,
      s"corrupt t-digest blob: $n centroids in ${bb.remaining} bytes")
    val means = new Array[Double](n)
    val weights = new Array[Double](n)
    var i = 0
    while (i < n) { means(i) = bb.getDouble(); weights(i) = bb.getDouble(); i += 1 }
    val t = TDigestSketch.fromCentroids(compression, means, weights)
    t.minValue = minV
    t.maxValue = maxV
    t
  }

  // -------------------------------------------------------------- KLL
  // payload: k(4) n(8) minV(8) maxV(8) numLevels(4) [levelLen(4)]* [items(8)...]
  def encodeKll(s: KLLSketch): Array[Byte] = {
    val levels = s.levelsSnapshot
    val nItems = levels.map(_.length).sum
    val bb = writer(TypeId.Kll, 4 + 8 + 8 + 8 + 4 + 4 * levels.length + 8 * nItems, MinVersion)
    bb.putInt(s.k)
    bb.putLong(s.count)
    bb.putDouble(s.minValue)
    bb.putDouble(s.maxValue)
    bb.putInt(levels.length)
    levels.foreach(l => bb.putInt(l.length))
    levels.foreach(l => l.foreach(bb.putDouble))
    bb.array()
  }

  def decodeKll(bytes: Array[Byte]): KLLSketch = typed {
    val bb = reader(bytes, TypeId.Kll)
    val k = bb.getInt()
    val count = bb.getLong()
    val minV = bb.getDouble()
    val maxV = bb.getDouble()
    val nLevels = bb.getInt()
    require(nLevels >= 0 && 4L * nLevels <= bb.remaining,
      s"corrupt KLL blob: $nLevels levels in ${bb.remaining} bytes")
    val lens = Array.fill(nLevels)(bb.getInt())
    val levels = lens.map { len =>
      require(len >= 0 && 8L * len <= bb.remaining,
        s"corrupt KLL blob: a $len-item level in ${bb.remaining} bytes")
      val a = new Array[Double](len)
      var i = 0
      while (i < len) { a(i) = bb.getDouble(); i += 1 }
      a
    }
    KLLSketch.fromLevels(k, count, minV, maxV, levels)
  }

  // -------------------------------------------------------------- Theta
  // payload: k(4) thetaU(8) count(4) [entry(8)...] (entries unsigned-sorted)
  def encodeTheta(s: ThetaSketch): Array[Byte] = {
    val es = s.entriesArray
    val bb = writer(TypeId.Theta, 4 + 8 + 4 + 8 * es.length, MinVersion)
    bb.putInt(s.k)
    bb.putLong(s.thetaLong)
    bb.putInt(es.length)
    es.foreach(bb.putLong)
    bb.array()
  }

  def decodeTheta(bytes: Array[Byte]): ThetaSketch = typed {
    val bb = reader(bytes, TypeId.Theta)
    val k = bb.getInt()
    val thetaU = bb.getLong()
    val n = bb.getInt()
    require(n >= 0 && 8L * n <= bb.remaining,
      s"corrupt theta blob: $n entries in ${bb.remaining} bytes")
    val es = new Array[Long](n)
    var i = 0
    while (i < n) { es(i) = bb.getLong(); i += 1 }
    ThetaSketch.fromState(k, thetaU, es)
  }

  // ------------------------------------------------------------ Bottom-k
  // payload: k(4) count(4) [hash(8) keyLen(4) keyBytes...]*
  def encodeBottomK(s: BottomKSketch): Array[Byte] = {
    val es = s.entriesSeq
    val payload = 4 + 4 + es.map(e => 8 + 4 + e._2.length).sum
    val bb = writer(TypeId.BottomK, payload, MinVersion)
    bb.putInt(s.k)
    bb.putInt(es.size)
    es.foreach { case (h, kb) => bb.putLong(h); bb.putInt(kb.length); bb.put(kb) }
    bb.array()
  }

  // ------------------------------------------------------- Misra-Gries
  // payload: k(4) decremented(8) n(8) count(4) [keyLen(4) key... count(8)]*
  // entries in unsigned-lexicographic key order — canonical for a GIVEN
  // logical state (the state itself is merge-tree dependent, like
  // t-digest; bounds hold under every tree)
  def encodeMg(s: MGSketch): Array[Byte] = {
    val es = s.entriesByKey
    val payload = 4 + 8 + 8 + 4 + es.map(e => 4 + e._1.length + 8).sum
    val bb = writer(TypeId.Mg, payload, MinVersion)
    bb.putInt(s.k)
    bb.putLong(s.decrementTotal)
    bb.putLong(s.processedCount)
    bb.putInt(es.size)
    es.foreach { case (kb, c) => bb.putInt(kb.length); bb.put(kb); bb.putLong(c) }
    bb.array()
  }

  def decodeMg(bytes: Array[Byte]): MGSketch = typed {
    val bb = reader(bytes, TypeId.Mg)
    val k = bb.getInt()
    val dec = bb.getLong()
    val n = bb.getLong()
    val cnt = bb.getInt()
    // an entry is keyLen(4) key count(8): each length is checked against
    // the bytes left for it and the entries after it, O(1) per field
    requireEntries(cnt, 12, bb, "Misra-Gries")
    val es = (0 until cnt).map { i =>
      val len = bb.getInt()
      requireKey(len, 8 + 12L * (cnt - 1 - i), bb, "Misra-Gries")
      val kb = new Array[Byte](len)
      bb.get(kb)
      (kb, bb.getLong())
    }
    MGSketch.fromEntries(k, es, dec, n)
  }

  def decodeBottomK(bytes: Array[Byte]): BottomKSketch = typed {
    val bb = reader(bytes, TypeId.BottomK)
    val k = bb.getInt()
    val n = bb.getInt()
    // an entry is hash(8) keyLen(4) key
    requireEntries(n, 12, bb, "bottom-k")
    val es = (0 until n).map { i =>
      val h = bb.getLong()
      val len = bb.getInt()
      requireKey(len, 12L * (n - 1 - i), bb, "bottom-k")
      val kb = new Array[Byte](len)
      bb.get(kb)
      (h, kb)
    }
    BottomKSketch.fromEntries(k, es)
  }

  // ------------------------------------------ weighted bottom-k (A-ES)
  // payload: k(4) n(4) [race(8, IEEE double) keyHash(8) keyLen(4) key]*
  // entries in race order — canonical (the retained set and its order
  // are pure functions of the logical sample, independent of merge tree)
  def encodeWeightedBottomK(s: WeightedBottomKSketch): Array[Byte] = {
    val es = s.entriesSeq
    val payload = 4 + 4 + es.map(e => 8 + 8 + 4 + e._3.length).sum
    val bb = writer(TypeId.WeightedBottomK, payload, MinVersion)
    bb.putInt(s.k)
    bb.putInt(es.size)
    es.foreach { case (r, h, kb) =>
      bb.putDouble(r); bb.putLong(h); bb.putInt(kb.length); bb.put(kb)
    }
    bb.array()
  }

  def decodeWeightedBottomK(bytes: Array[Byte]): WeightedBottomKSketch = typed {
    val bb = reader(bytes, TypeId.WeightedBottomK)
    val k = bb.getInt()
    val n = bb.getInt()
    // an entry is race(8) keyHash(8) keyLen(4) key
    requireEntries(n, 20, bb, "weighted bottom-k")
    val es = (0 until n).map { i =>
      val r = bb.getDouble()
      val h = bb.getLong()
      val len = bb.getInt()
      requireKey(len, 20L * (n - 1 - i), bb, "weighted bottom-k")
      val kb = new Array[Byte](len)
      bb.get(kb)
      (r, h, kb)
    }
    WeightedBottomKSketch.fromEntries(k, es)
  }

  // ----------------------------------------------------- Counting Bloom
  // v1: keyMode(1) hasherId(1) capacity(8) fpp(8) layout(1) body
  //   layout 0 (dense):  nCells(4), cell bytes
  //   layout 1 (sparse): nOccupied(4), then per occupied cell a LEB128
  //     varint DELTA of the ascending cell index (first delta = first
  //     index) followed by the cell's count byte.
  // CANONICAL by the Bloom/HLL/CMS rule: the layout is a pure function
  // of the cell state (sparse iff strictly smaller), so equal filters
  // encode to equal bytes under any merge tree. A counting filter at
  // its design fill (~48% of cells occupied at optimal k) encodes
  // dense; grouped/windowed small filters — the states that dominate a
  // sketch table — go sparse at ≤ ~20% fill (5 bytes worst-case per
  // occupied cell vs 1 byte per cell dense).
  def encodeCountingBloom(s: CountingBloomSketch,
      keyMode: Byte = KeyMode.Bytes): Array[Byte] = {
    require(s.hasherId >= 0,
      "custom (unregistered) hash pairs cannot cross the codec — register " +
        "the pair with a stable id in KMHashPair to use it in Spark aggregation")
    val cells = s.cells
    val n = cells.length
    var sparseBody = 4
    var nz = 0
    var prev = 0
    var j = 0
    while (j < n) {
      if (cells(j) != 0) {
        sparseBody += varintSize((if (nz == 0) j else j - prev).toLong) + 1
        prev = j
        nz += 1
      }
      j += 1
    }
    val header = 2 + 16 + 1
    val densePayload = header + 4 + n
    val sparsePayload = header + sparseBody
    def putHeader(bb: ByteBuffer, layout: Byte): Unit = {
      bb.put(keyMode); bb.put(s.hasherId)
      bb.putLong(s.config.capacity); bb.putDouble(s.config.fpp)
      bb.put(layout)
    }
    if (sparsePayload < densePayload) {
      val bb = writer(TypeId.CountingBloom, sparsePayload, MinVersion)
      putHeader(bb, 1)
      bb.putInt(nz)
      prev = 0
      var first = true
      j = 0
      while (j < n) {
        if (cells(j) != 0) {
          putVarint(bb, (if (first) j else j - prev).toLong)
          bb.put(cells(j))
          prev = j
          first = false
        }
        j += 1
      }
      bb.array()
    } else {
      val bb = writer(TypeId.CountingBloom, densePayload, MinVersion)
      putHeader(bb, 0)
      bb.putInt(n)
      bb.put(cells)
      bb.array()
    }
  }

  def decodeCountingBloom(bytes: Array[Byte]): CountingBloomSketch = typed {
    val bb = reader(bytes, TypeId.CountingBloom)
    bb.get() // keyMode — surfaced via countingBloomKeyMode
    val hasherId = bb.get()
    val capacity = bb.getLong()
    val fpp = bb.getDouble()
    val config = BloomConfig(capacity, fpp)
    // one byte per cell: the configured size must fit one array and the
    // heap before either layout allocates it
    require(config.totalBits <= Int.MaxValue,
      s"corrupt counting Bloom blob: ${config.totalBits} cells past one array")
    requireHeapFits(config.totalBits, "counting Bloom")
    val layout = bb.get()
    val cells = layout match {
      case 0 =>
        val n = bb.getInt()
        require(n.toLong == config.totalBits && n <= bb.remaining,
          s"corrupt counting Bloom blob: cell count $n, configured " +
            s"${config.totalBits}, in ${bb.remaining} bytes")
        val c = new Array[Byte](n)
        bb.get(c)
        c
      case 1 =>
        val c = new Array[Byte](config.totalBits.toInt)
        val nz = bb.getInt()
        // an occupied cell is a varint delta (>= 1 byte) and a count byte
        require(nz >= 0 && 2L * nz <= bb.remaining,
          s"corrupt counting Bloom blob: $nz occupied cells in ${bb.remaining} bytes")
        var idx = 0L
        var i = 0
        while (i < nz) {
          idx += getVarint(bb)
          // corrupt/truncated varint deltas must surface as the codec's
          // descriptive error, not a raw ArrayIndexOutOfBounds (the
          // dense path validates its cell count the same way)
          require(idx >= 0 && idx < config.totalBits,
            s"counting blob sparse cell index $idx outside configured " +
              s"${config.totalBits} cells — corrupt blob")
          c(idx.toInt) = bb.get()
          i += 1
        }
        c
      case other => throw new IllegalArgumentException(
        s"unknown counting-Bloom layout $other")
    }
    new CountingBloomSketch(config, cells, KMHashPair.byId(hasherId))
  }

  /** KeyMode byte of an encoded counting-Bloom blob (probe-path guard,
    * same contract as the Bloom/CMS key-mode sniffers). */
  def countingBloomKeyMode(bytes: Array[Byte]): Byte = typed {
    reader(bytes, TypeId.CountingBloom).get()
  }

  // ------------------------------------------------------ canonical form
  // A blob is CANONICAL when the current encoder writes exactly these
  // bytes for the state they decode to: encode(decode(b)) == b, with the
  // blob's own key convention. An aggregation buffer may then hold the
  // blob and pass it through instead of decoding and re-encoding it
  // (graft.spark.catalyst.SketchBuffer). The check reads the blob once
  // and allocates no sketch state; it mirrors each decoder's refusals and
  // each encoder's layout choice, and asks for what the encoder always
  // writes (exact length, minimal varints, ascending entries, no empty
  // groups or zero cells). Legacy versions (Bloom v1/v3, HLL/CMS v2, v2
  // of the content types) are never canonical: the encoder no longer
  // writes them. Neither is anything damaged — decoding such a blob is
  // what reports the damage.

  /** True iff `encode(decode(bytes)) == bytes`, checked without building
    * the sketch. Never throws. */
  def isCanonical(bytes: Array[Byte]): Boolean =
    bytes.length >= 6 && java.util.Arrays.equals(bytes, 0, 4, Magic, 0, 4) && (try {
      val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).position(6)
      val v = versionOf(bytes)
      bytes(4) match {
        case TypeId.Bloom =>
          (v == BloomVersion || v == BloomSparseVersion) && canonicalBloom(bytes, bb)
        case TypeId.Hll => canonicalHll(bytes, bb, v)
        case TypeId.Cms => canonicalCms(bytes, bb, v)
        case _ if v != MinVersion => false
        case TypeId.TDigest => canonicalTDigest(bytes, bb)
        case TypeId.Kll => canonicalKll(bytes, bb)
        case TypeId.Theta => canonicalTheta(bytes, bb)
        case TypeId.BottomK => canonicalBottomK(bb)
        case TypeId.Mg => canonicalMg(bytes, bb)
        case TypeId.WeightedBottomK => canonicalWeightedBottomK(bb)
        case TypeId.CountingBloom => canonicalCountingBloom(bytes, bb)
        case _ => false
      }
    } catch {
      case _: java.nio.BufferUnderflowException | _: IllegalArgumentException |
          _: IndexOutOfBoundsException => false
    })

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

  /** Reads varints from `bytes` at `at` as the encoder writes them. */
  private final class Varints(bytes: Array[Byte], var at: Int) {
    /** The next varint if it is minimal (a multi-byte one ends in a
      * nonzero byte) and below 2^63 (at most 9 bytes); else -1. */
    def next(): Long = {
      val start = at
      var x = 0L
      var shift = 0
      var b = 0x80
      while ((b & 0x80) != 0) {
        if (at >= bytes.length || shift > 56) return -1L
        b = bytes(at) & 0xff
        x |= (b & 0x7fL) << shift
        shift += 7
        at += 1
      }
      if (b == 0 && at - start > 1) -1L else x
    }
  }

  private def canonicalBloom(bytes: Array[Byte], bb: ByteBuffer): Boolean = {
    val variant = bb.get()
    bb.get() // keyMode: any byte round-trips
    val hasherId = bb.get()
    val pairOk = variant match {
      case BloomVariant.KM => registeredPair(hasherId)
      case BloomVariant.Seeded => hasherId == 0
      case _ => false
    }
    val numBits = if (pairOk) BloomConfig(bb.getLong(), bb.getDouble()).totalBits else -1L
    val nWords = (numBits + 63) >>> 6
    if (numBits < 0 || nWords > Int.MaxValue || 8 * nWords > Runtime.getRuntime.maxMemory)
      return false
    val densePayload = 3 + 16 + 4 + 8 + 8 * nWords.toInt
    val sizer = new BloomSizer
    if (versionOf(bytes) == BloomVersion) {
      if (bytes.length != 6 + 31 + 8 * nWords || bb.getInt() != nWords || bb.getLong() != numBits)
        return false
      var wi = 0
      while (wi < nWords) {
        val word = bb.getLong()
        if (word != 0L) { sizer.word(wi, word); sizer.rleWord(wi) }
        wi += 1
      }
      val offsetPayload = BloomSparseHeader + sizer.offsetBody
      val rlePayload = BloomSparseHeader + sizer.rleBody
      !(offsetPayload < densePayload && offsetPayload <= rlePayload) && rlePayload >= densePayload
    } else {
      if (bb.getLong() != numBits) return false
      val payload = bytes.length - 6
      bb.get() match {
        case 0 => // offset-list: strictly ascending positions in range
          // the body's length is the offset-list size; only the word-RLE
          // size is left to compare, and it needs just the nonzero words
          val ones = bb.getInt()
          val start = bb.position()
          /** Nonzero words of a body of `ones` minimal varint deltas that
            * fills the blob, each also fed to `rle` unless null; -1 if
            * the body is not that. */
          def words(rle: BloomSizer): Long = {
            val in = new Varints(bytes, start)
            var at = start
            var pos = 0L
            var wi = -1L
            var n = 0L
            var i = 0
            while (i < ones) {
              // a one-byte delta is always minimal
              val d =
                if (at < bytes.length && bytes(at) >= 0) { at += 1; bytes(at - 1).toLong }
                else { in.at = at; val v = in.next(); at = in.at; v }
              if (d < 0 || (i > 0 && d == 0)) return -1L
              pos += d
              if (pos < 0 || pos >= numBits) return -1L
              if ((pos >>> 6) != wi) {
                wi = pos >>> 6
                n += 1
                if (rle != null) rle.rleWord(wi)
              }
              i += 1
            }
            if (at == bytes.length && ones >= 0) n else -1L
          }
          val n = words(null)
          n >= 0 && payload < densePayload &&
            (payload <= rlePayloadAtLeast(n) ||
              { words(sizer); payload <= BloomSparseHeader + sizer.rleBody })
        case 1 => // word-RLE: maximal literal runs of nonzero words
          val in = new Varints(bytes, bb.position())
          var wp = 0L
          var first = true
          while (in.at < bytes.length) {
            val z = in.next()
            val lit = in.next()
            if (z < 0 || lit < 1 || (!first && z == 0) || z > nWords || lit > nWords ||
                wp + z + lit > nWords ||
                in.at + 8 * lit > bytes.length) return false
            wp += z
            var j = 0L
            while (j < lit) {
              val word = bb.getLong(in.at)
              if (word == 0L) return false
              sizer.word(wp, word)
              in.at += 8
              wp += 1
              j += 1
            }
            first = false
          }
          val offsetPayload = BloomSparseHeader + sizer.offsetBody
          payload < densePayload && !(offsetPayload < densePayload && offsetPayload <= payload)
        case _ => false
      }
    }
  }

  private def canonicalHll(bytes: Array[Byte], bb: ByteBuffer, v: Byte): Boolean = {
    val p = bb.getInt()
    if (p < 4 || p > 18) return false
    val m = 1 << p
    if (v == MinVersion) {
      bytes.length == 10 + m && 4 + 4 * nonZeroBytes(bytes, 10, bytes.length) >= m
    } else v == SparseVersion && {
      val n = bb.getInt()
      n >= 0 && 4 + 4L * n < m && bytes.length == 14 + 4L * n && {
        var prevIdx = -1
        var i = 0
        while (i < n) {
          val packed = bb.getInt()
          val idx = packed >>> 6
          if (idx <= prevIdx || idx >= m || (packed & 0x3f) == 0) return false
          prevIdx = idx
          i += 1
        }
        true
      }
    }
  }

  private def canonicalCms(bytes: Array[Byte], bb: ByteBuffer, v: Byte): Boolean = {
    bb.get() // keyMode
    val d = bb.getInt()
    val w = bb.getInt()
    bb.getLong() // total
    val n = d.toLong * w
    if (d <= 0 || w <= 0 || n > Int.MaxValue || 8 * n > Runtime.getRuntime.maxMemory) return false
    val cells = n.toInt
    if (v == MinVersion) {
      if (bytes.length != 23 + 8 * n) return false
      var nonzero = 0
      var i = 0
      while (i < cells) { if (bb.getLong() != 0L) nonzero += 1; i += 1 }
      !(4 + 12 * nonzero < 8 * cells)
    } else v == SparseVersion && {
      val nz = bb.getInt()
      nz >= 0 && 4 + 12 * nz < 8 * cells && bytes.length == 27 + 12L * nz && {
        var prevIdx = -1
        var i = 0
        while (i < nz) {
          val idx = bb.getInt()
          if (idx <= prevIdx || idx >= cells || bb.getLong() == 0L) return false
          prevIdx = idx
          i += 1
        }
        true
      }
    }
  }

  private def canonicalTDigest(bytes: Array[Byte], bb: ByteBuffer): Boolean = {
    val compression = bb.getDouble()
    bb.getDouble(); bb.getDouble() // min, max
    val n = bb.getInt()
    compression >= 20 && n >= 0 && bytes.length == 34 + 16L * n
  }

  private def canonicalKll(bytes: Array[Byte], bb: ByteBuffer): Boolean = {
    val k = bb.getInt()
    bb.getLong(); bb.getDouble(); bb.getDouble() // n, min, max
    val nLevels = bb.getInt()
    if (k < 8 || nLevels < 1 || 4L * nLevels > bb.remaining) return false
    var items = 0L
    var i = 0
    while (i < nLevels) {
      val len = bb.getInt()
      if (len < 0) return false
      items += len
      i += 1
    }
    bytes.length == 38 + 4L * nLevels + 8 * items
  }

  private def canonicalTheta(bytes: Array[Byte], bb: ByteBuffer): Boolean = {
    val k = bb.getInt()
    val thetaU = bb.getLong()
    val n = bb.getInt()
    n >= 0 && n <= k && bytes.length == 22 + 8L * n && {
      var prev = 0L
      var i = 0
      while (i < n) {
        val e = bb.getLong()
        if ((i > 0 && java.lang.Long.compareUnsigned(prev, e) >= 0) ||
            (thetaU != ThetaSketch.ExactTheta && java.lang.Long.compareUnsigned(e, thetaU) >= 0))
          return false
        prev = e
        i += 1
      }
      true
    }
  }

  /** Skips a key of `len` bytes that must fit in the rest of the blob. */
  private def skipKey(bb: ByteBuffer, len: Int): Boolean =
    len >= 0 && len <= bb.remaining && { bb.position(bb.position() + len); true }

  private def canonicalBottomK(bb: ByteBuffer): Boolean = {
    val k = bb.getInt()
    val n = bb.getInt()
    n >= 0 && n <= k && {
      var prev = 0L
      var i = 0
      while (i < n) {
        val h = bb.getLong()
        if ((i > 0 && java.lang.Long.compareUnsigned(prev, h) >= 0) || !skipKey(bb, bb.getInt()))
          return false
        prev = h
        i += 1
      }
      !bb.hasRemaining
    }
  }

  private def canonicalMg(bytes: Array[Byte], bb: ByteBuffer): Boolean = {
    val k = bb.getInt()
    bb.getLong(); bb.getLong() // decremented, n
    val cnt = bb.getInt()
    k >= 1 && cnt >= 0 && cnt <= k && {
      var prevAt = -1
      var prevLen = 0
      var i = 0
      while (i < cnt) {
        val len = bb.getInt()
        val at = bb.position()
        if (!skipKey(bb, len) || (i > 0 && java.util.Arrays.compareUnsigned(
            bytes, prevAt, prevAt + prevLen, bytes, at, at + len) >= 0) || bb.getLong() <= 0L)
          return false
        prevAt = at
        prevLen = len
        i += 1
      }
      !bb.hasRemaining
    }
  }

  private def canonicalWeightedBottomK(bb: ByteBuffer): Boolean = {
    val k = bb.getInt()
    val n = bb.getInt()
    k >= 1 && n >= 0 && n <= k && {
      var prevR = 0.0
      var prevH = 0L
      var i = 0
      while (i < n) {
        val r = bb.getDouble()
        val h = bb.getLong()
        if (!java.lang.Double.isFinite(r) || r < 0.0) return false
        val c = java.lang.Double.compare(prevR, r)
        if (i > 0 && (c > 0 || (c == 0 && java.lang.Long.compareUnsigned(prevH, h) >= 0)))
          return false
        if (!skipKey(bb, bb.getInt())) return false
        prevR = r
        prevH = h
        i += 1
      }
      !bb.hasRemaining
    }
  }

  private def canonicalCountingBloom(bytes: Array[Byte], bb: ByteBuffer): Boolean = {
    bb.get() // keyMode
    if (!registeredPair(bb.get())) return false
    val total = BloomConfig(bb.getLong(), bb.getDouble()).totalBits
    if (total > Int.MaxValue || total > Runtime.getRuntime.maxMemory) return false
    val n = total.toInt
    val densePayload = 2 + 16 + 1 + 4 + n
    bb.get() match {
      case 0 =>
        if (bb.getInt() != n || bytes.length != 6 + densePayload) return false
        var sparseBody = 4
        var prev = 0
        var nz = 0
        var j = 0
        val at = bb.position()
        while (j < n) {
          if (bytes(at + j) != 0) {
            sparseBody += varintSize((if (nz == 0) j else j - prev).toLong) + 1
            prev = j
            nz += 1
          }
          j += 1
        }
        2 + 16 + 1 + sparseBody >= densePayload
      case 1 =>
        val nz = bb.getInt()
        val in = new Varints(bytes, bb.position())
        var idx = -1L
        var i = 0
        while (i < nz) {
          val d = in.next()
          if (d < 0 || (i > 0 && d == 0)) return false
          idx = if (i == 0) d else idx + d
          if (idx < 0 || idx >= n || in.at >= bytes.length || bytes(in.at) == 0) return false
          in.at += 1
          i += 1
        }
        nz >= 0 && in.at == bytes.length && bytes.length - 6 < densePayload
      case _ => false
    }
  }
}
