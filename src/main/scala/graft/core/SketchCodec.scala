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

    // measure all three layouts in one word-level pass: within a word
    // every offset-list delta is < 64 (one varint byte), so only each
    // nonzero word's first set bit needs a real varint size; a word-RLE
    // group is sized when its literal run ends
    val densePayload = 3 + 16 + 4 + 8 + 8 * nW
    var offsetBody = 4
    var ones = 0
    var lastPos = 0L
    var rleBody = 0
    var zeroRun = 0L
    var litRun = 0
    var wi = 0
    while (wi < nW) {
      val word = w(wi)
      if (word != 0L) {
        val first = wi.toLong * 64 + java.lang.Long.numberOfTrailingZeros(word)
        val c = java.lang.Long.bitCount(word)
        offsetBody += varintSize(if (ones == 0) first else first - lastPos) + c - 1
        ones += c
        lastPos = wi.toLong * 64 + 63 - java.lang.Long.numberOfLeadingZeros(word)
        if (litRun == 0) { rleBody += varintSize(zeroRun); zeroRun = 0 }
        litRun += 1
      } else {
        if (litRun > 0) { rleBody += varintSize(litRun.toLong) + 8 * litRun; litRun = 0 }
        zeroRun += 1
      }
      wi += 1
    }
    if (litRun > 0) rleBody += varintSize(litRun.toLong) + 8 * litRun
    val sparseHeader = 3 + 16 + 8 + 1
    val offsetPayload = sparseHeader + offsetBody
    val rlePayload = sparseHeader + rleBody

    def putSparseHeader(bb: ByteBuffer, layout: Byte): Unit = {
      bb.put(s.variant); bb.put(keyMode); bb.put(s.hasherId)
      bb.putLong(s.config.capacity); bb.putDouble(s.config.fpp)
      bb.putLong(s.bits.numBits); bb.put(layout)
    }
    if (offsetPayload < densePayload && offsetPayload <= rlePayload) {
      val bb = writer(TypeId.Bloom, offsetPayload, BloomSparseVersion)
      putSparseHeader(bb, 0)
      bb.putInt(ones)
      var prevPos = 0L
      var first = true
      wi = 0
      while (wi < nW) {
        var bits = w(wi)
        while (bits != 0L) {
          val pos = wi.toLong * 64 + java.lang.Long.numberOfTrailingZeros(bits)
          putVarint(bb, if (first) pos else pos - prevPos)
          prevPos = pos
          first = false
          bits &= bits - 1
        }
        wi += 1
      }
      bb.array()
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

  def decodeBloom(bytes: Array[Byte]): BloomSketch = {
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
            var i = 0
            while (i < ones) {
              pos += getVarint(bb)
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
  private def putVarint(bb: ByteBuffer, v: Long): Unit = {
    var x = v
    while ((x & ~0x7fL) != 0L) { bb.put(((x & 0x7f) | 0x80).toByte); x >>>= 7 }
    bb.put(x.toByte)
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
    var occupied = 0
    var i = 0
    while (i < m) { if (regs(i) != 0) occupied += 1; i += 1 }
    if (4 + 4 * occupied < m) {
      val bb = writer(TypeId.Hll, 4 + 4 + 4 * occupied, SparseVersion)
      bb.putInt(s.p)
      bb.putInt(occupied)
      i = 0
      while (i < m) {
        if (regs(i) != 0) bb.putInt((i << 6) | (regs(i) & 0x3f))
        i += 1
      }
      bb.array()
    } else {
      val bb = writer(TypeId.Hll, 4 + m, 1)
      bb.putInt(s.p)
      bb.put(regs)
      bb.array()
    }
  }

  def decodeHll(bytes: Array[Byte]): HLLSketch = {
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

  def decodeCms(bytes: Array[Byte]): CMSSketch = {
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

  def decodeTDigest(bytes: Array[Byte]): TDigestSketch = {
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

  def decodeKll(bytes: Array[Byte]): KLLSketch = {
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

  def decodeTheta(bytes: Array[Byte]): ThetaSketch = {
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

  def decodeMg(bytes: Array[Byte]): MGSketch = {
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

  def decodeBottomK(bytes: Array[Byte]): BottomKSketch = {
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

  def decodeWeightedBottomK(bytes: Array[Byte]): WeightedBottomKSketch = {
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

  def decodeCountingBloom(bytes: Array[Byte]): CountingBloomSketch = {
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
  def countingBloomKeyMode(bytes: Array[Byte]): Byte = {
    reader(bytes, TypeId.CountingBloom).get()
  }
}
