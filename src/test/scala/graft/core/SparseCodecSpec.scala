package graft.core

import java.nio.{ByteBuffer, ByteOrder}
import org.scalatest.funsuite.AnyFunSuite

/** Sparse HLL/CMS blob encodings — the shuffle/checkpoint size fix for
  * grouped sketch tables at high group cardinality (a 100-distinct group
  * must not ship a 16 KiB dense HLL register file or a ~109 KiB CMS grid
  * through every partial-agg exchange). Pins:
  *   1. lossless round-trip through the sparse layout;
  *   2. CANONICAL encoding — the dense/sparse choice is a function of
  *      logical state only, so any merge tree yields byte-identical
  *      blobs (what q33's bit-identity gate and the state-identity
  *      suites rely on);
  *   3. the size win itself, and that sparse is only chosen when
  *      strictly smaller;
  *   4. old dense (v1) blobs still decode — rolling-upgrade readers;
  *   5. describe() renders sparse blobs.
  */
class SparseCodecSpec extends AnyFunSuite {

  private def hllOf(ids: Range): HLLSketch = {
    val h = HLLSketch()
    ids.foreach(i => h.updateHash(Hashing.xxHash64Long(i.toLong, 99L)))
    h
  }

  private def cmsOf(ids: Range): CMSSketch = {
    val c = CMSSketch(0.01, 0.01)
    ids.foreach(i => c.updateHash(Hashing.xxHash64Long(i.toLong, 99L), 1L + (i % 5)))
    c
  }

  test("sparse HLL round-trips losslessly and keeps the estimate") {
    for (n <- Seq(1, 10, 100, 1000)) {
      val s = hllOf(0 until n)
      val blob = SketchCodec.encodeHll(s)
      assert(blob(5) === 5, s"n=$n should encode compact")
      val back = SketchCodec.decodeHll(blob)
      assert(back === s, s"n=$n round-trip")
      assert(back.estimate === s.estimate)
    }
    // far past the threshold: dense, still lossless
    val big = hllOf(0 until 200000)
    val blob = SketchCodec.encodeHll(big)
    assert(blob(5) === 1)
    assert(SketchCodec.decodeHll(blob) === big)
  }

  test("sparse CMS round-trips losslessly with counts and total") {
    // (0.01, 0.01) is a d=5 × w=272 grid — 1000 distinct items already
    // saturate it, so only genuinely small groups encode sparse
    for (n <- Seq(1, 10, 100)) {
      val s = cmsOf(0 until n)
      val blob = SketchCodec.encodeCms(s)
      assert(blob(5) === 3, s"n=$n should encode sparse")
      val back = SketchCodec.decodeCms(blob)
      assert(back === s, s"n=$n round-trip")
      assert(back.totalCount === s.totalCount)
      assert(back.estimateHash(Hashing.xxHash64Long(3L, 99L)) ===
        s.estimateHash(Hashing.xxHash64Long(3L, 99L)))
    }
    for (n <- Seq(1000, 20000)) { // grid mostly/fully occupied → dense
      val big = cmsOf(0 until n)
      val blob = SketchCodec.encodeCms(big)
      assert(blob(5) === 1, s"n=$n should encode dense")
      assert(SketchCodec.decodeCms(blob) === big)
    }
  }

  test("encoding is canonical: any merge tree yields byte-identical blobs") {
    // three parts whose pairwise merges straddle the sparse/dense
    // threshold in different intermediate states — the FINAL state is
    // equal, so the bytes must be too
    val parts = Seq(0 until 1500, 1500 until 3000, 1000 until 2000)
    def mergeHll(order: Seq[Int]): Array[Byte] = {
      val acc = hllOf(parts(order.head))
      order.tail.foreach(i => acc.mergeInPlace(hllOf(parts(i))))
      SketchCodec.encodeHll(acc)
    }
    val o1 = mergeHll(Seq(0, 1, 2))
    val o2 = mergeHll(Seq(2, 0, 1))
    val o3 = mergeHll(Seq(1, 2, 0))
    assert(java.util.Arrays.equals(o1, o2) && java.util.Arrays.equals(o2, o3))

    // CMS merge ADDS counts, so different part sets would differ — use
    // permutations of the same parts (disjoint id ranges)
    val cparts = Seq(0 until 300, 300 until 600, 600 until 900)
    def mergeCms(order: Seq[Int]): Array[Byte] = {
      val acc = cmsOf(cparts(order.head))
      order.tail.foreach(i => acc.mergeInPlace(cmsOf(cparts(i))))
      SketchCodec.encodeCms(acc)
    }
    val c1 = mergeCms(Seq(0, 1, 2))
    val c2 = mergeCms(Seq(2, 0, 1))
    assert(java.util.Arrays.equals(c1, c2))
  }

  test("sparse is chosen exactly when strictly smaller, and wins big on small groups") {
    // HLL: a 100-distinct group is ~16 KiB dense; sparse must be < 1 KiB
    val small = SketchCodec.encodeHll(hllOf(0 until 100))
    assert(small.length < 1024, s"100-distinct HLL blob is ${small.length} B")
    val dense = SketchCodec.encodeHll(hllOf(0 until 200000))
    assert(dense.length === 6 + 4 + (1 << HLLSketch.DefaultP))
    // sparse blob is always strictly smaller than the dense layout would be
    for (n <- Seq(1, 50, 500, 3000)) {
      val blob = SketchCodec.encodeHll(hllOf(0 until n))
      if (blob(5) == 5) assert(blob.length < 6 + 4 + (1 << HLLSketch.DefaultP))
    }
    // CMS at production width (ε=0.001 ⇒ w=2719, d=5 ⇒ ~109 KB dense):
    // a 100-distinct group must encode at least 10× smaller
    val c = new CMSSketch(5, 2719, new Array[Long](5 * 2719), 0L)
    (0 until 100).foreach(i => c.updateHash(Hashing.xxHash64Long(i.toLong, 99L), 1L))
    val cblob = SketchCodec.encodeCms(c)
    val cdense = 6 + 1 + 4 + 4 + 8 + 8 * c.counters.length
    assert(cblob.length < cdense / 10,
      s"100-distinct CMS blob is ${cblob.length} B vs $cdense dense")
    assert(SketchCodec.decodeCms(cblob) === c)
  }

  test("property: random merge trees over random partitions encode identically") {
    // the canonical-encoding claim, property-style: split an id range
    // into random parts, merge them in a random binary tree, encode —
    // every tree of the same parts must yield the same bytes, and the
    // result must equal the bulk build
    val rnd = new scala.util.Random(1234)
    for (trial <- 0 until 25) {
      val n = 1 + rnd.nextInt(6000) // spans sparse AND dense regimes
      val nParts = 2 + rnd.nextInt(6)
      val cuts = (Seq(0, n) ++ Seq.fill(nParts - 1)(rnd.nextInt(n + 1))).sorted
      val parts = cuts.zip(cuts.tail).map { case (a, b) => a until b }
      def mergeTree(ps: Seq[Range]): HLLSketch =
        if (ps.size == 1) hllOf(ps.head)
        else {
          val split = 1 + rnd.nextInt(ps.size - 1)
          mergeTree(ps.take(split)).mergeInPlace(mergeTree(ps.drop(split)))
        }
      val t1 = SketchCodec.encodeHll(mergeTree(rnd.shuffle(parts)))
      val t2 = SketchCodec.encodeHll(mergeTree(rnd.shuffle(parts)))
      val bulk = SketchCodec.encodeHll(hllOf(0 until n))
      assert(java.util.Arrays.equals(t1, t2) && java.util.Arrays.equals(t1, bulk),
        s"trial $trial (n=$n, parts=${parts.map(_.length)}) produced diverging bytes")

      // CMS twin (its merge ADDS counts, so the parts are disjoint by
      // construction here and any tree over them sums to the bulk state)
      def mergeCmsTree(ps: Seq[Range]): CMSSketch =
        if (ps.size == 1) cmsOf(ps.head)
        else {
          val split = 1 + rnd.nextInt(ps.size - 1)
          mergeCmsTree(ps.take(split)).mergeInPlace(mergeCmsTree(ps.drop(split)))
        }
      val c1 = SketchCodec.encodeCms(mergeCmsTree(rnd.shuffle(parts)))
      val c2 = SketchCodec.encodeCms(mergeCmsTree(rnd.shuffle(parts)))
      val cBulk = SketchCodec.encodeCms(cmsOf(0 until n))
      assert(java.util.Arrays.equals(c1, c2) && java.util.Arrays.equals(c1, cBulk),
        s"trial $trial CMS (n=$n) produced diverging bytes")
    }
  }

  test("old dense (v1 AND v2) HLL/CMS blobs of ANY occupancy still decode") {
    // synthesize what earlier writers actually emitted for a SMALL
    // sketch: the dense layout stamped v1 (first build) and — crucially
    // — stamped v2 by the build that versioned EVERY type 2 while still
    // writing dense payloads. v2 must decode as DENSE; treating it as
    // sparse would silently misread every HLL/CMS blob that build
    // persisted (checkpoints, sketch-table columns). That is why the
    // sparse layout is v3.
    for (version <- Seq(1.toByte, 2.toByte)) {
      val s = hllOf(0 until 10)
      val bb = ByteBuffer.allocate(6 + 4 + s.registers.length).order(ByteOrder.LITTLE_ENDIAN)
      bb.put('G'.toByte).put('S'.toByte).put('K'.toByte).put('1'.toByte)
      bb.put(SketchCodec.TypeId.Hll).put(version)
      bb.putInt(s.p).put(s.registers)
      assert(SketchCodec.decodeHll(bb.array()) === s, s"dense HLL v$version")

      val c = cmsOf(0 until 10)
      val cb = ByteBuffer.allocate(6 + 1 + 4 + 4 + 8 + 8 * c.counters.length)
        .order(ByteOrder.LITTLE_ENDIAN)
      cb.put('G'.toByte).put('S'.toByte).put('K'.toByte).put('1'.toByte)
      cb.put(SketchCodec.TypeId.Cms).put(version)
      cb.put(SketchCodec.KeyMode.Bytes).putInt(c.depth).putInt(c.width).putLong(c.totalCount)
      c.counters.foreach(cb.putLong)
      assert(SketchCodec.decodeCms(cb.array()) === c, s"dense CMS v$version")
    }
    // and the OTHER ambiguous-v2 world: a build briefly wrote the SPARSE
    // layout stamped v2 — blob length disambiguates (sparse is only
    // chosen when strictly smaller than dense), so restamping a v3
    // sparse blob as v2 must still decode as sparse
    val sp = hllOf(0 until 10)
    val v2sparse = GoldenBlobs.hllV3Sparse(sp)
    assert(v2sparse(5) === 3)
    assert(SketchCodec.decodeHll(v2sparse) === sp, "sparse-layout v3 HLL")
    v2sparse(5) = 2
    assert(SketchCodec.decodeHll(v2sparse) === sp, "sparse-layout v2 HLL")
    val cs = cmsOf(0 until 10)
    val v2sparseC = SketchCodec.encodeCms(cs).clone()
    assert(v2sparseC(5) === 3)
    v2sparseC(5) = 2
    assert(SketchCodec.decodeCms(v2sparseC) === cs, "sparse-layout v2 CMS")
  }

  // ---------------------------------------------------- sparse Bloom (r5)
  private def bloomOf(capacity: Long, ids: Range): BloomSketch = {
    val s = KMBloomSketch(capacity, 0.001)
    ids.foreach(i => s.insert(s"key-$i".getBytes("UTF-8")))
    s
  }

  test("sparse Bloom round-trips losslessly at every fill level, probes intact") {
    for (n <- Seq(0, 1, 10, 500, 5000)) {
      val s = bloomOf(100000, 0 until n)
      val blob = SketchCodec.encodeBloom(s)
      assert(blob(5) === 4, s"n=$n of capacity 100k should encode sparse v4")
      val back = SketchCodec.decodeBloom(blob)
      assert(back.bits === s.bits && back.config === s.config, s"n=$n round-trip")
      // zero FN survives the codec
      (0 until n).foreach(i =>
        assert(back.mightContain(s"key-$i".getBytes("UTF-8")), s"FN after roundtrip: $i"))
    }
    // a v3-stamped sparse Bloom (early round-5 builds) still decodes:
    // Bloom never emitted v3 dense, so the byte is unambiguous
    val v3blob = SketchCodec.encodeBloom(bloomOf(100000, 0 until 100)).clone()
    v3blob(5) = 3
    assert(SketchCodec.decodeBloom(v3blob).bits === bloomOf(100000, 0 until 100).bits)
    // filled to capacity: dense (v2), still lossless
    val full = bloomOf(3000, 0 until 3000)
    val blob = SketchCodec.encodeBloom(full)
    assert(blob(5) === 2, "full filter should stay dense v2")
    assert(SketchCodec.decodeBloom(blob).bits === full.bits)
    // keyMode byte survives at its fixed offset in BOTH layouts
    assert(SketchCodec.bloomKeyMode(SketchCodec.encodeBloom(
      bloomOf(100000, 0 until 10), SketchCodec.KeyMode.RowHash)) === SketchCodec.KeyMode.RowHash)
    assert(SketchCodec.bloomKeyMode(SketchCodec.encodeBloom(
      full, SketchCodec.KeyMode.RowHash)) === SketchCodec.KeyMode.RowHash)
  }

  test("sparse Bloom is canonical across merge trees and >=5x smaller when light") {
    // the windowed-streaming-state shape: capacity 100k, a few hundred
    // inserts — dense is ~175 KiB; the sparse blob must be >= 5x smaller
    val light = bloomOf(100000, 0 until 500)
    val blob = SketchCodec.encodeBloom(light)
    val denseSize = 6 + 3 + 16 + 4 + 8 + 8 * light.bits.words.length
    assert(blob.length.toLong * 5 <= denseSize,
      s"500-insert capacity-100k blob is ${blob.length} B vs $denseSize dense")
    // canonical: shard-union in any order == bulk build, byte-identical
    def shard(r: Range): BloomSketch = bloomOf(100000, r)
    val orders = Seq(Seq(0 until 200, 200 until 350, 350 until 500),
      Seq(350 until 500, 0 until 200, 200 until 350))
    val blobs = orders.map { parts =>
      val acc = shard(parts.head)
      parts.tail.foreach(p => acc.unionInPlace(shard(p)))
      SketchCodec.encodeBloom(acc)
    }
    assert(java.util.Arrays.equals(blobs(0), blobs(1)))
    assert(java.util.Arrays.equals(blobs(0), blob), "shard union != bulk bytes")
  }

  test("word-RLE layout: clustered occupancy round-trips (and beats the offset list)") {
    // hashed fills are offset-list territory; RLE is for CLUSTERED bit
    // state (e.g. an intersect of correlated filters). Craft one: 100
    // solid words then tens of thousands of zero words.
    val cfg = BloomConfig(100000, 0.001)
    val bits = BitArray(cfg.totalBits)
    (0L until 6400L).foreach(bits.set(_))
    val s = new KMBloomSketch(cfg, bits, KMHashPair.XxMurmur)
    val blob = SketchCodec.encodeBloom(s)
    assert(blob(5) === 4)
    // layout byte: 6 (header) + variant+keyMode+hasherId (3) + cap (8) +
    // fpp (8) + numBits (8) = offset 33
    assert(blob(33) === 1, s"clustered filter should pick the RLE layout, got ${blob(33)}")
    assert(blob.length < 1200, s"RLE blob is ${blob.length} B") // ~100 words + varints
    val back = SketchCodec.decodeBloom(blob)
    assert(back.bits === s.bits)
  }

  // naive per-layout sizes: header(6), dense body, sparse header(28) + body
  private def varintLen(v: Long): Int =
    math.max(1, (64 - java.lang.Long.numberOfLeadingZeros(v) + 6) / 7)
  private def layoutMin(s: BloomSketch): Int = {
    val w = s.bits.words
    val ones = (0L until s.bits.numBits).filter(s.bits.get)
    val offset = 28 + 4 + ones.zip(0L +: ones).map { case (p, q) => varintLen(p - q) }.sum
    var rle = 28; var i = 0
    while (i < w.length) {
      val z = w.indexWhere(_ != 0L, i) match { case -1 => w.length - i; case j => j - i }
      i += z
      if (i < w.length) {
        val lit = w.indexWhere(_ == 0L, i) match { case -1 => w.length - i; case j => j - i }
        rle += varintLen(z) + varintLen(lit) + 8 * lit
        i += lit
      }
    }
    6 + Seq(3 + 16 + 4 + 8 + 8 * w.length, offset, rle).min
  }

  test("Bloom blob length is the smallest of the three layouts around the offset-list/dense crossover") {
    def check(s: BloomSketch, what: String): Unit = {
      val blob = SketchCodec.encodeBloom(s)
      assert(blob.length === layoutMin(s), what)
      val back = SketchCodec.decodeBloom(blob)
      assert(back.bits === s.bits && back.config === s.config, s"$what: round-trip")
    }
    // evenly spaced bits (1-byte deltas): the offset list beats dense by
    // one byte at popcount 8·words − 2 and ties it (dense wins) at − 1
    val cfg = BloomConfig(2000, 0.01)
    val nW = ((cfg.totalBits + 63) / 64).toInt
    for (ones <- 8 * nW - 4 to 8 * nW + 2) {
      val bits = BitArray(cfg.totalBits)
      (0 until ones).foreach(i => bits.set(i * cfg.totalBits / ones))
      check(new KMBloomSketch(cfg, bits, KMHashPair.XxMurmur), s"$ones evenly spaced bits")
    }
    // hashed fills crossing the same crossover
    val s = KMBloomSketch(cfg)
    var i = 0
    while (s.bits.countOnes < 8L * nW + 40) {
      s.insert(s"key-$i".getBytes("UTF-8")); i += 1
      if (s.bits.countOnes >= 8L * nW - 40) check(s, s"$i hashed keys")
    }
  }

  test("Bloom blob length is the smallest layout where the offset list and word-RLE cross") {
    // nonzero words of k evenly spread bits between empty runs: the offset
    // list takes about k bytes a word, word-RLE 8, so word-RLE wins from
    // k = 9 on — where the offset list stays under 12 bytes a word
    val cfg = BloomConfig(2000, 0.01)
    val nW = ((cfg.totalBits + 63) / 64).toInt
    val layouts = for (k <- 6 to 16; gap <- Seq(1, 3, 40)) yield {
      val bits = BitArray(cfg.totalBits)
      var wi = 0
      while (wi < nW - 1) {
        (0 until 4).foreach { j =>
          if (wi + j < nW - 1) (0 until k).foreach(b => bits.set((wi + j) * 64L + b * 64 / k))
        }
        wi += 4 + gap
      }
      val s = new KMBloomSketch(cfg, bits, KMHashPair.XxMurmur)
      val blob = SketchCodec.encodeBloom(s)
      assert(blob.length === layoutMin(s), s"k=$k gap=$gap: not the smallest layout")
      assert(SketchCodec.isCanonical(blob), s"k=$k gap=$gap: own blob not canonical")
      assert(SketchCodec.decodeBloom(blob).bits === s.bits, s"k=$k gap=$gap: round-trip")
      blob(33)
    }
    assert(layouts.toSet === Set[Byte](0, 1), s"the crossover reached only layouts ${layouts.toSet}")
  }

  test("one-pass layout sizing: random filters encode to the smallest layout, losslessly") {
    // fills from empty to dense, with runs of solid and empty words mixed
    // in so every layout wins somewhere; the first set bit sits anywhere
    val rnd = new scala.util.Random(5L)
    // 300 words: a varint literal count of 2 bytes, so an all-nonzero
    // filter ties RLE with dense (below 128 words RLE always wins by 1 B)
    val cfg = BloomConfig(2000, 0.01)
    val chosen = collection.mutable.Set.empty[Int]
    for (trial <- 0 until 600) {
      val bits = BitArray(cfg.totalBits)
      val density = rnd.nextDouble() * (if (rnd.nextBoolean()) 1.0 else rnd.nextDouble())
      val runs = rnd.nextInt(3) // 0: no runs; 1: solid runs; 2: solid and empty runs
      var b = 0L
      while (b < cfg.totalBits) {
        rnd.nextInt(60) match {
          case 0 if runs > 0 => // solid run
            val end = math.min(cfg.totalBits, b + rnd.nextInt(2400))
            while (b < end) { bits.set(b); b += 1 }
          case 1 if runs > 1 => b += rnd.nextInt(6000) // empty run
          case _ => if (rnd.nextDouble() < density) bits.set(b); b += 1
        }
      }
      val s = new KMBloomSketch(cfg, bits, KMHashPair.XxMurmur)
      val blob = SketchCodec.encodeBloom(s)
      assert(blob.length === layoutMin(s), s"trial $trial: not the smallest layout")
      chosen += (if (blob(5) == 2) 2 else blob(33).toInt)
      assert(SketchCodec.decodeBloom(blob).bits === s.bits, s"trial $trial: round-trip")
    }
    assert(chosen === Set(0, 1, 2), s"random filters did not reach every layout: $chosen")
  }

  /** A copy of `blob` with `width` little-endian bytes of `v` at `at`. */
  private def le(blob: Array[Byte], at: Int, v: Long, width: Int): Array[Byte] = {
    val b = blob.clone()
    (0 until width).foreach(i => b(at + i) = (v >>> (8 * i)).toByte)
    b
  }

  test("length-inflated Bloom blobs fail with the codec's error before allocating") {
    // the length field sits after header(6), variant/keyMode/hasherId(3),
    // capacity(8) and fpp(8): dense nWords (4 bytes), sparse numBits (8)
    val dense = SketchCodec.encodeBloom(bloomOf(3000, 0 until 3000))
    assert(dense(5) === 2)
    for (n <- Seq(Int.MaxValue.toLong, 1L << 28, -1L, Int.MinValue.toLong)) {
      val e = intercept[IllegalArgumentException](SketchCodec.decodeBloom(le(dense, 25, n, 4)))
      assert(e.getMessage.contains("corrupt"), s"dense nWords=$n: ${e.getMessage}")
    }
    val sparse = SketchCodec.encodeBloom(bloomOf(100000, 0 until 100))
    assert(sparse(5) === 4)
    for (n <- Seq(64L * Int.MaxValue, Long.MaxValue, 1L << 40, -1L, 64L * 100000)) {
      val e = intercept[IllegalArgumentException](SketchCodec.decodeBloom(le(sparse, 25, n, 8)))
      assert(e.getMessage.contains("corrupt"), s"sparse numBits=$n: ${e.getMessage}")
    }
    // capacity (offset 9) and numBits inflated consistently, past what one
    // Long array can index
    val huge = BloomConfig(1L << 40, 0.001).totalBits
    val e = intercept[IllegalArgumentException](SketchCodec.decodeBloom(
      le(le(sparse, 9, 1L << 40, 8), 25, huge, 8)))
    assert(e.getMessage.contains("corrupt"), e.getMessage)
  }

  test("a sparse Bloom header inflated past the heap fails typed, not with OutOfMemoryError") {
    // capacity (offset 9) and numBits (offset 25) inflated together: the
    // word count stays under the Int bound, the logical size does not fit
    val sparse = SketchCodec.encodeBloom(bloomOf(100000, 0 until 100))
    val bits = BloomConfig(1L << 33, 0.001).totalBits
    assert(((bits + 63) >>> 6) <= Int.MaxValue)
    assume(((bits + 63) >>> 6) * 8 > Runtime.getRuntime.maxMemory)
    val e = intercept[IllegalArgumentException](SketchCodec.decodeBloom(
      le(le(sparse, 9, 1L << 33, 8), 25, bits, 8)))
    assert(e.getMessage.contains("heap"), e.getMessage)
  }

  test("HLL blobs with an out-of-range precision fail typed before allocating") {
    // p sits right after the 6-byte header; sparse and dense (v1) bodies
    val blobs = Seq(SketchCodec.encodeHll(hllOf(0 until 50)),
      SketchCodec.encodeHll(hllOf(0 until 200000)))
    assert(blobs.map(_(5).toInt) === Seq(5, 1))
    for (blob <- blobs; p <- Seq(31, 30, 19, 3, 0, -1, Int.MinValue)) {
      val e = intercept[IllegalArgumentException](SketchCodec.decodeHll(le(blob, 6, p, 4)))
      assert(e.getMessage.contains("precision"), s"p=$p: ${e.getMessage}")
    }
  }

  test("CMS blobs with inflated or overflowing dimensions fail typed before allocating") {
    // keyMode(1) at 6, then depth(4) at 7 and width(4) at 11
    def dims(blob: Array[Byte], d: Int, w: Int) = le(le(blob, 7, d, 4), 11, w, 4)
    val sparse = SketchCodec.encodeCms(cmsOf(0 until 10))
    val dense = SketchCodec.encodeCms(cmsOf(0 until 5000))
    assert(sparse(5) === 3 && dense(5) === 1)
    // non-positive, and products past the Int bound (65536 x 65536 wraps
    // to 0 as an Int product)
    for (blob <- Seq(sparse, dense);
         (d, w) <- Seq((-1, 272), (5, 0), (0, 0), (65536, 65536), (Int.MaxValue, 2), (1 << 16, 1 << 15))) {
      val e = intercept[IllegalArgumentException](SketchCodec.decodeCms(dims(blob, d, w)))
      assert(e.getMessage.contains("corrupt"), s"$d x $w: ${e.getMessage}")
    }
    // a dense grid larger than the bytes that follow the header
    val short = intercept[IllegalArgumentException](SketchCodec.decodeCms(dims(dense, 5, 272 * 1000)))
    assert(short.getMessage.contains("corrupt dense CMS"), short.getMessage)
    // under the Int bound but past the heap: a sparse body cannot bound it
    val (d, w) = (3, 715827882)
    assume(8L * d * w > Runtime.getRuntime.maxMemory)
    val e = intercept[IllegalArgumentException](SketchCodec.decodeCms(dims(sparse, d, w)))
    assert(e.getMessage.contains("heap"), e.getMessage)
  }

  test("length-inflated t-digest, KLL and theta blobs fail typed before allocating") {
    // each count is checked against the bytes that follow it; at the
    // counts below an unchecked decoder dies with OutOfMemoryError,
    // NegativeArraySizeException or BufferUnderflowException
    def rejects(decode: Array[Byte] => Any, blob: Array[Byte], what: String): Unit = {
      val e = intercept[IllegalArgumentException](decode(blob))
      assert(e.getMessage.contains("corrupt"), s"$what: ${e.getMessage}")
    }
    def counts(fits: Int) =
      Seq(Int.MaxValue, Int.MinValue, -1, 1 << 28, fits + 1).map(_.toLong)
    // t-digest: compression, min, max (8 each) after the header, then n(4)
    val td = TDigestSketch()
    (1 to 500).foreach(i => td.update(i * 0.37))
    val tdBlob = GoldenBlobs.tdigestV1(td)
    val tdN = (tdBlob.length - 34) / 16
    assert(SketchCodec.decodeTDigest(le(tdBlob, 30, tdN, 4)).count === td.count)
    counts(tdN).foreach(n => rejects(SketchCodec.decodeTDigest, le(tdBlob, 30, n, 4), s"t-digest n=$n"))
    // v5: the count is a varint at the same offset, a centroid 9+ bytes
    val compact = SketchCodec.encodeTDigest(td)
    val cN = SketchCodec.decodeTDigest(compact).centroids._1.length
    assert(compact(5) === 5)
    counts((compact.length - 31) / 9).foreach(n =>
      rejects(SketchCodec.decodeTDigest, varintAt(compact, 30, n), s"compact t-digest n=$n"))
    assert(SketchCodec.decodeTDigest(varintAt(compact, 30, cN)).count === td.count)
    // theta: k(4) thetaU(8) after the header, then count(4)
    val theta = ThetaSketch()
    (0 until 300).foreach(i => theta.updateHash(Hashing.xxHash64Long(i.toLong, 7L)))
    val thBlob = SketchCodec.encodeTheta(theta)
    val thN = (thBlob.length - 22) / 8
    counts(thN).foreach(n => rejects(SketchCodec.decodeTheta, le(thBlob, 18, n, 4), s"theta n=$n"))
    // KLL: k(4) n(8) min(8) max(8) after the header, then numLevels(4)
    // and one len(4) per level
    val kll = KLLSketch()
    (0 until 5000).foreach(i => kll.update(i.toDouble))
    val kBlob = SketchCodec.encodeKll(kll)
    val nLevels = kll.levelsSnapshot.length
    assert(nLevels > 1)
    counts((kBlob.length - 38) / 4).foreach(n =>
      rejects(SketchCodec.decodeKll, le(kBlob, 34, n, 4), s"KLL numLevels=$n"))
    val itemBytes = kBlob.length - 38 - 4 * nLevels
    for (level <- Seq(0, nLevels - 1); len <- counts(itemBytes / 8))
      rejects(SketchCodec.decodeKll, le(kBlob, 38 + 4 * level, len, 4), s"KLL level $level len=$len")
  }

  test("length-inflated Misra-Gries, bottom-k and weighted bottom-k blobs fail typed") {
    def rejects(decode: Array[Byte] => Any, blob: Array[Byte], what: String): Unit = {
      val e = intercept[IllegalArgumentException](decode(blob))
      assert(e.getMessage.contains("corrupt"), s"$what: ${e.getMessage}")
    }
    def inflated(fits: Long) = Seq(Int.MaxValue, Int.MinValue, -1, 1 << 28).map(_.toLong) :+ (fits + 1)
    def key(i: Int) = Hashing.utf8(s"key-$i")
    // each case: the blob, its decoder, the offset of the entry count,
    // the smallest entry, the offset of the first key length and the
    // entry bytes after the key
    val mg = MGSketch(16)
    (0 until 40).foreach(i => mg.update(key(i % 12), 1L + i))
    val bk = BottomKSketch(16)
    (0 until 40).foreach(i => bk.update(key(i)))
    val wbk = WeightedBottomKSketch(16)
    (0 until 40).foreach(i => wbk.update(key(i), 1.0 + i))
    val cases = Seq[(String, Array[Byte], Array[Byte] => Any, Int, Int, Int, Int)](
      // k(4) decremented(8) n(8), then count(4); entry keyLen(4) key count(8)
      ("Misra-Gries", SketchCodec.encodeMg(mg), b => SketchCodec.decodeMg(b), 26, 12, 30, 8),
      // k(4), then n(4); entry hash(8) keyLen(4) key
      ("bottom-k", SketchCodec.encodeBottomK(bk), b => SketchCodec.decodeBottomK(b), 10, 12, 22, 0),
      // k(4), then n(4); entry race(8) keyHash(8) keyLen(4) key
      ("weighted bottom-k v1", GoldenBlobs.wbkV1(wbk),
        b => SketchCodec.decodeWeightedBottomK(b), 10, 20, 30, 0))
    for ((what, blob, decode, countAt, minEntry, lenAt, afterKey) <- cases) {
      val n = ByteBuffer.wrap(blob, countAt, 4).order(ByteOrder.LITTLE_ENDIAN).getInt()
      assert(n > 1, what)
      decode(blob) // the untouched blob decodes
      val body = blob.length - countAt - 4
      (inflated(body / minEntry) :+ (n + 1L)).foreach(c =>
        rejects(decode, le(blob, countAt, c, 4), s"$what count=$c"))
      val keyFits = blob.length - lenAt - 4 - afterKey - minEntry.toLong * (n - 1)
      inflated(keyFits).foreach(l =>
        rejects(decode, le(blob, lenAt, l, 4), s"$what first key length=$l"))
    }
    // v5: varint k(1) and count(1), then race(8) keyLen(varint) key
    val compact = SketchCodec.encodeWeightedBottomK(wbk)
    assert(compact(5) === 5 && compact(6) === 16 && compact(7) === 16)
    val decode = (b: Array[Byte]) => SketchCodec.decodeWeightedBottomK(b)
    (inflated((compact.length - 8) / 9) :+ 17L).foreach(c =>
      rejects(decode, varintAt(compact, 7, c), s"compact weighted bottom-k count=$c"))
    inflated(compact.length - 17 - 9L * 15).foreach(l =>
      rejects(decode, varintAt(compact, 16, l), s"compact weighted bottom-k first key length=$l"))
  }

  /** `blob` with the varint at `at` replaced by `v`'s minimal varint. */
  private def varintAt(blob: Array[Byte], at: Int, v: Long): Array[Byte] =
    blob.take(at) ++ varint(v) ++ blob.drop(varintEnd(blob, at))
  private def varint(v: Long): Array[Byte] = {
    val out = Array.newBuilder[Byte]
    var x = v
    while ((x & ~0x7fL) != 0L) { out += ((x & 0x7f) | 0x80).toByte; x >>>= 7 }
    (out += x.toByte).result()
  }
  /** The index after the varint at `at`. */
  private def varintEnd(blob: Array[Byte], at: Int): Int = {
    var i = at
    while ((blob(i) & 0x80) != 0) i += 1
    i + 1
  }
  /** `v` as an 11-byte varint: past 64 bits, though its value is `v`. */
  private def overlong(v: Long): Array[Byte] =
    (0 until 10).map(i => (((v >>> (7 * i)) & 0x7f) | 0x80).toByte).toArray :+ 0.toByte

  test("over-long varints in the compact HLL, t-digest and weighted sample layouts fail typed") {
    val hll = SketchCodec.encodeHll(hllOf(0 until 50))
    val td = TDigestSketch()
    (1 to 150).foreach(i => td.update(i.toDouble))
    val tdBlob = SketchCodec.encodeTDigest(td)
    val wbk = WeightedBottomKSketch(16)
    (0 until 40).foreach(i => wbk.update(Hashing.utf8(s"key-$i"), 1.0 + i))
    val wbkBlob = SketchCodec.encodeWeightedBottomK(wbk)
    assert(Seq(hll, tdBlob, wbkBlob).forall(_(5) == 5))
    // each layout: its decoder and the offset of one varint field
    val cases = Seq[(String, Array[Byte], Array[Byte] => Any, Int)](
      ("HLL count", hll, b => SketchCodec.decodeHll(b), 10),
      ("HLL first register", hll, b => SketchCodec.decodeHll(b), 11),
      ("t-digest count", tdBlob, b => SketchCodec.decodeTDigest(b), 30),
      ("t-digest first weight", tdBlob, b => SketchCodec.decodeTDigest(b), varintEnd(tdBlob, 30) + 8),
      ("weighted bottom-k k", wbkBlob, b => SketchCodec.decodeWeightedBottomK(b), 6),
      ("weighted bottom-k first key length", wbkBlob, b => SketchCodec.decodeWeightedBottomK(b), 16))
    for ((what, blob, decode, at) <- cases) {
      decode(blob)
      val end = varintEnd(blob, at)
      val value = blob.slice(at, end).zipWithIndex.map { case (b, i) => (b & 0x7fL) << (7 * i) }.sum
      // eleven bytes, and ten whose last carries more than bit 63
      for (bad <- Seq(overlong(value), overlong(value).take(9) :+ 2.toByte)) {
        val b = blob.take(at) ++ bad ++ blob.drop(end)
        val e = intercept[IllegalArgumentException](decode(b))
        assert(e.getMessage.contains("corrupt"), s"$what: ${e.getMessage}")
        assert(!SketchCodec.isCanonical(b), what)
      }
    }
  }

  test("counting Bloom blobs with an inflated config or cell count fail typed") {
    // keyMode(1) hasherId(1) after the header, capacity(8) at 8, fpp(8),
    // layout(1) at 24, then the dense cell count(4) at 25
    val dense = CountingBloomSketch(1000L, 0.01)
    (0 until 1000).foreach(i => dense.insert(Hashing.utf8(s"k$i")))
    val light = CountingBloomSketch(1000L, 0.01)
    (0 until 5).foreach(i => light.insert(Hashing.utf8(s"k$i")))
    val denseBlob = SketchCodec.encodeCountingBloom(dense)
    val sparseBlob = SketchCodec.encodeCountingBloom(light)
    assert(denseBlob(24) === 0 && sparseBlob(24) === 1)
    def rejects(blob: Array[Byte], what: String): Unit = {
      val e = intercept[IllegalArgumentException](SketchCodec.decodeCountingBloom(blob))
      assert(e.getMessage.contains("corrupt"), s"$what: ${e.getMessage}")
    }
    // a configured size past one array, on either layout
    for (blob <- Seq(denseBlob, sparseBlob); cap <- Seq(1L << 40, Long.MaxValue / 64))
      rejects(le(blob, 8, cap, 8), s"layout ${blob(24)} capacity=$cap")
    // dense cell counts that disagree with the config or the bytes
    val cells = dense.config.totalBits
    for (n <- Seq(-1L, Int.MinValue.toLong, Int.MaxValue.toLong, cells + 1, cells - 1))
      rejects(le(denseBlob, 25, n, 4), s"dense cells=$n")
    rejects(denseBlob.dropRight(1), "truncated dense body")
    // sparse occupied-cell counts past the bytes that follow
    for (nz <- Seq(-1L, Int.MaxValue.toLong, 1L << 28))
      rejects(le(sparseBlob, 25, nz, 4), s"sparse occupied=$nz")
  }

  test("the canonical check allocates nothing a 256 MiB header declares") {
    // a header may declare far more state than its body holds: the check
    // must give its verdict without allocating that state
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    def allocated(f: => Boolean): (Boolean, Long) = {
      f // warm
      val id = Thread.currentThread().getId
      val before = threads.getThreadAllocatedBytes(id)
      val verdict = f
      (verdict, threads.getThreadAllocatedBytes(id) - before)
    }
    val big = 256L << 20
    // a capacity-1.5e8 filter holding five keys: 2.16e9 bits, offset list
    val bloom = SketchCodec.encodeBloom(bloomOf(150000000L, 0 until 5))
    assert(bloom(5) === 4 && bloom(33) === 0 && bloom.length < 1000)
    assert(BloomConfig(150000000L, 0.001).totalBits / 8 >= big)
    // CMS: 5 x 8e6 counters (320 MB); sparse with three cells, and a
    // dense header over a three-cell body
    def dims(blob: Array[Byte]) = le(le(blob, 7, 5, 4), 11, 8000000, 4)
    val cmsSparse = dims(SketchCodec.encodeCms(cmsOf(0 until 3)))
    val cmsDense = dims(SketchCodec.encodeCms(cmsOf(0 until 5000))).take(60)
    assert(cmsSparse(5) === 3 && cmsDense(5) === 1 && 8L * 5 * 8000000 >= big)
    // counting Bloom: capacity 2e7 at fpp 0.001 (2.9e8 one-byte cells);
    // sparse with a few cells, and a dense header whose cell count
    // matches the config over a short body
    val cfg = BloomConfig(20000000L, 0.001)
    assert(cfg.totalBits >= big)
    val light = CountingBloomSketch(1000L, 0.001)
    (0 until 3).foreach(i => light.insert(Hashing.utf8(s"k$i")))
    val cbfSparse = le(SketchCodec.encodeCountingBloom(light), 8, cfg.capacity, 8)
    val full = CountingBloomSketch(100L, 0.001)
    (0 until 100).foreach(i => full.insert(Hashing.utf8(s"k$i")))
    val cbfDense = le(le(SketchCodec.encodeCountingBloom(full), 8, cfg.capacity, 8), 25, cfg.totalBits, 4)
    assert(cbfSparse(24) === 1 && cbfDense(24) === 0)
    intercept[IllegalArgumentException](SketchCodec.decodeCms(cmsDense))
    intercept[IllegalArgumentException](SketchCodec.decodeCountingBloom(cbfDense))
    for ((what, blob, canonical) <- Seq(("sparse Bloom", bloom, true), ("sparse CMS", cmsSparse, true),
        ("dense CMS", cmsDense, false), ("sparse counting Bloom", cbfSparse, true),
        ("dense counting Bloom", cbfDense, false))) {
      val (verdict, bytes) = allocated(SketchCodec.isCanonical(blob))
      assert(verdict === canonical, what)
      assert(bytes < (1L << 20), s"$what: the check allocated $bytes bytes")
    }
  }

  test("describe renders sparse blobs; corrupt sparse blobs fail loudly") {
    val h = hllOf(0 until 50)
    assert(SketchCodec.describe(SketchCodec.encodeHll(h)).contains("HLLSketch"))
    val c = cmsOf(0 until 50)
    assert(SketchCodec.describe(SketchCodec.encodeCms(c)).contains("CMSSketch"))
    // out-of-order sparse entries = corrupt
    val blob = GoldenBlobs.hllV3Sparse(h)
    // payload starts at 6: p(4) count(4) packed... — swap first two entries
    val bad = blob.clone()
    val t = bad.slice(14, 18)
    Array.copy(bad, 18, bad, 14, 4)
    Array.copy(t, 0, bad, 18, 4)
    intercept[IllegalArgumentException](SketchCodec.decodeHll(bad))
  }

  test("compact HLL entries that do not ascend, or pass the last register, fail typed") {
    // p = 4: 16 registers; count(varint) then (gap << 6 | rank) varints
    def blob(entries: Long*): Array[Byte] =
      Array[Byte]('G', 'S', 'K', '1', SketchCodec.TypeId.Hll, 5) ++
        le(new Array[Byte](4), 0, 4, 4) ++ varint(entries.size) ++ entries.flatMap(varint)
    val ok = blob(1L << 6 | 3, 2L << 6 | 1)
    assert(SketchCodec.decodeHll(ok).registers.take(3).toSeq === Seq[Byte](3, 0, 1))
    assert(SketchCodec.isCanonical(ok))
    for (bad <- Seq(blob(1L << 6 | 3, 0L << 6 | 1), blob(17L << 6 | 1), blob(8L << 6 | 1, 9L << 6 | 1),
        blob(-1L))) {
      val e = intercept[IllegalArgumentException](SketchCodec.decodeHll(bad))
      assert(e.getMessage.contains("corrupt"), e.getMessage)
      assert(!SketchCodec.isCanonical(bad))
    }
  }

  test("word-RLE zero runs and literal counts past the last word fail typed") {
    // the golden RLE filter's header (34 bytes), then one group whose zero
    // run is 2^64 - 1 (FF x9 01): with one literal word it used to index
    // word -1, and with none it decoded to a filter
    val rle = SketchCodec.encodeBloom({
      val s = KMBloomSketch(200L, 0.01); (0 until 200).foreach(i => s.insert(s"key-$i".getBytes("UTF-8"))); s
    })
    assert(rle(5) === 4 && rle(33) === 1)
    val run = Array.fill[Byte](9)(-1) :+ 1.toByte
    for (body <- Seq(run ++ Array[Byte](1) ++ new Array[Byte](8), run :+ 0.toByte,
        Array[Byte](0) ++ varint(1L << 20) ++ new Array[Byte](8))) {
      val bad = rle.take(34) ++ body
      val e = intercept[IllegalArgumentException](SketchCodec.decodeBloom(bad))
      assert(e.getMessage.contains("corrupt"), e.getMessage)
      assert(!SketchCodec.isCanonical(bad))
    }
  }
}
