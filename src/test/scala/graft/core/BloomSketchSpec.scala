package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Reference contract + statistical suite
  * (/root/reference/src/lib.rs doc examples; /root/reference/tests/
  * integration.rs). Structure mirrors the reference tests; margins re-tuned
  * for our (xxHash64, Murmur3) pair, bound formula identical. */
class BloomSketchSpec extends AnyFunSuite {

  // -------------------------------------------------------- sizing formulas
  test("sizing formulas match the reference exactly (lib.rs:239–249)") {
    // independently computed expected values for a few (n, p) pairs
    def m(n: Long, p: Double): Long =
      math.ceil(-n.toDouble * math.log(p) / (math.log(2) * math.log(2))).toLong
    def k(n: Long, p: Double): Int =
      math.max(1L, math.round(m(n, p).toDouble / n * math.log(2))).toInt
    for ((n, p) <- Seq((1000L, 0.01), (1000000L, 0.001), (5L, 0.2), (7L, 0.05))) {
      val c = BloomConfig(n, p)
      assert(c.optimalBitCount === m(n, p), s"m for ($n,$p)")
      assert(c.numberOfHashers === k(n, p), s"k for ($n,$p)")
      val bph = (m(n, p) + k(n, p) - 1) / k(n, p)
      assert(c.bitsPerHasher === bph, s"bph for ($n,$p)")
      assert(c.totalBits === k(n, p).toLong * bph)
    }
    // canonical spot check: n=10^6, p=0.001 → m=14,377,588; k=10
    val c = BloomConfig(1000000L, 0.001)
    assert(c.optimalBitCount === 14377588L)
    assert(c.numberOfHashers === 10)
  }

  test("capacity == 0 rejected (reference panics, km_bloom_filter.rs:93–95)") {
    intercept[IllegalArgumentException](KMBloomSketch(0L, 0.01))
    intercept[IllegalArgumentException](SeededBloomSketch(0L, 0.01))
  }

  // --------------------------------------------------- doc-example contracts
  test("insert/contains round-trip, both variants (lib.rs:61–68 example)") {
    for (f <- Seq(KMBloomSketch(100L, 0.01): BloomSketch, SeededBloomSketch(100L, 0.01))) {
      f.insert("5")
      f.insert("hello")
      f.insertLong(42L)
      assert(f.mightContain("5"))
      assert(f.mightContain("hello"))
      assert(f.mightContainLong(42L))
      assert(!f.mightContain("not inserted")) // overwhelmingly likely at this load
    }
  }

  test("re-insert is a no-op by idempotence (lib.rs:185–186)") {
    val f = KMBloomSketch(100L, 0.01)
    f.insert("dup")
    val onesAfterFirst = f.bits.countOnes
    f.insert("dup")
    assert(f.bits.countOnes === onesAfterFirst)
  }

  // ---------------------------------------------------- zero false negatives
  test("zero false negatives, KM, 100k sequential ints (integration.rs:295–308 shape)") {
    val n = 100000
    val f = KMBloomSketch(n.toLong, 0.001)
    var i = 0
    while (i < n) { f.insertLong(i.toLong); i += 1 }
    i = 0
    while (i < n) { assert(f.mightContainLong(i.toLong), s"false negative at $i"); i += 1 }
  }

  test("zero false negatives, KM, 10M sweep (integration.rs:295–308, un-ignored)") {
    val n = 10000000
    val f = KMBloomSketch(n.toLong, 0.001)
    var i = 0
    while (i < n) { f.insertLong(i.toLong); i += 1 }
    i = 0
    var fn = 0
    while (i < n) { if (!f.mightContainLong(i.toLong)) fn += 1; i += 1 }
    assert(fn === 0, s"$fn false negatives in the 10M sweep")
  }

  test("zero false negatives, Seeded, 20k strings (integration.rs:276–293 shape)") {
    val n = 20000
    val f = SeededBloomSketch(n.toLong, 0.001)
    (0 until n).foreach(i => f.insert(s"key-$i"))
    (0 until n).foreach(i => assert(f.mightContain(s"key-$i")))
  }

  // -------------------------------------------- statistical FPR gates
  /** integration.rs:148–189 shape: insert 0..n, assert estimated FPP within
    * margin of configured p, probe n disjoint keys, gate observed FP count. */
  private def fprGate(f: BloomSketch, n: Int, p: Double, margin: Double,
      countTol: Double = 0.01): Unit = {
    var i = 0
    while (i < n) { f.insertLong(i.toLong); i += 1 }
    assert(f.approximateCurrentFpp <= p * (1.0 + margin),
      s"estimated FPP ${f.approximateCurrentFpp} exceeds ${p * (1 + margin)}")
    var fp = 0
    i = n
    while (i < 2 * n) { if (f.mightContainLong(i.toLong)) fp += 1; i += 1 }
    assert(fp <= n * p * (1.0 + margin) + 3 * math.sqrt(n * p),
      s"observed $fp false positives over $n probes (p=$p)")
    // element-count estimator near truth (lib.rs:254–261)
    assert(math.abs(f.approximateElementCount - n) / n <= countTol,
      s"element count estimate ${f.approximateElementCount} vs $n")
  }

  test("FPR within bound, KM (xxHash64+Murmur3), n=1e6 p=0.001 (integration.rs:52–100 shape)") {
    fprGate(KMBloomSketch(1000000L, 0.001), 1000000, 0.001, 0.05)
  }

  test("FPR within bound, Seeded, n=1e6 p=0.001 (integration.rs:36–50 shape, margin 0.06)") {
    fprGate(SeededBloomSketch(1000000L, 0.001), 1000000, 0.001, 0.06)
  }

  test("FPR within bound on random u64 corpus with fixed seeds (integration.rs:191–238)") {
    val n = 200000
    val p = 0.001
    val f = KMBloomSketch(n.toLong, p)
    val insertRnd = new scala.util.Random(0xb7b7b7b7b7b7b7L) // fixed, as integration.rs:200
    val probeRnd = new scala.util.Random(0x3f3f3f3f3f3f3fL) // fixed, as integration.rs:209
    val inserted = new java.util.HashSet[java.lang.Long](n * 2)
    var i = 0
    while (i < n) {
      val v = insertRnd.nextLong()
      inserted.add(v)
      f.insertLong(v)
      i += 1
    }
    // zero FN on the random corpus
    inserted.forEach(v => assert(f.mightContainLong(v)))
    var fp = 0
    var probes = 0
    while (probes < n) {
      val v = probeRnd.nextLong()
      if (!inserted.contains(v)) {
        if (f.mightContainLong(v)) fp += 1
        probes += 1
      }
    }
    assert(fp <= n * p * 1.05 + 3 * math.sqrt(n * p), s"observed $fp FPs")
  }

  // ------------------------------------------------------------ union/intersect
  test("union ≡ bulk insertion, bit-identical (integration.rs:310–366 + north rule)") {
    val n = 100000
    val cfg = BloomConfig(n.toLong, 0.001)
    val whole = KMBloomSketch(cfg)
    val left = KMBloomSketch(cfg)
    val right = KMBloomSketch(cfg)
    (0 until n).foreach { i =>
      whole.insertLong(i.toLong)
      if (i < n / 2) left.insertLong(i.toLong) else right.insertLong(i.toLong)
    }
    val merged = left.copySketch().unionInPlace(right)
    assert(merged === whole, "union of split halves != bulk insert")
    // result contains everything both inputs contain (km doc 132–135)
    (0 until n).foreach(i => assert(merged.mightContainLong(i.toLong)))
  }

  test("union is commutative + associative (merge-tree order independence)") {
    val cfg = BloomConfig(10000L, 0.01)
    val parts = (0 until 8).map { s =>
      val f = KMBloomSketch(cfg)
      (0 until 1000).foreach(i => f.insertLong((s * 1000 + i).toLong))
      f
    }
    val leftFold = parts.map(_.copySketch()).reduceLeft((a, b) => a.unionInPlace(b))
    val shuffled = new scala.util.Random(7L).shuffle(parts.toList)
    val rightFold = shuffled.map(_.copySketch()).reduceRight((a, b) => b.unionInPlace(a))
    assert(leftFold === rightFold)
  }

  test("config mismatch on union/intersect throws (km_bloom_filter.rs:185–187)") {
    val a = KMBloomSketch(1000L, 0.01)
    val b = KMBloomSketch(2000L, 0.01) // different k/bph
    intercept[IllegalArgumentException](a.copySketch().unionInPlace(b))
    intercept[IllegalArgumentException](a.copySketch().intersectInPlace(b))
    // KM and Seeded are never mergeable even with equal config
    val s = SeededBloomSketch(1000L, 0.01)
    intercept[IllegalArgumentException](a.copySketch().unionInPlace(s))
  }

  test("intersect semantics (integration.rs:368–432 shape)") {
    val n = 30000
    val cfg = BloomConfig(100000L, 0.0001)
    val a = KMBloomSketch(cfg)
    val b = KMBloomSketch(cfg)
    // a: [0, 2n), b: [n, 3n) → overlap [n, 2n)
    (0 until 2 * n).foreach(i => a.insertLong(i.toLong))
    (n until 3 * n).foreach(i => b.insertLong(i.toLong))
    val x = a.copySketch().intersectInPlace(b)
    // every common element still contained (no FN on the intersection)
    (n until 2 * n).foreach(i => assert(x.mightContainLong(i.toLong)))
    // disjoint keys mostly absent (reference margin 0.07 at p=1e-4)
    var fp = 0
    (3 * n until 4 * n).foreach(i => if (x.mightContainLong(i.toLong)) fp += 1)
    assert(fp <= n * 0.0001 * 1.07 + 3 * math.sqrt(n * 0.0001) + 1, s"intersect FPs: $fp")
  }

  test("estimators on union/intersect behave as documented (km:196–204)") {
    val cfg = BloomConfig(10000L, 0.01)
    val a = KMBloomSketch(cfg)
    val b = KMBloomSketch(cfg)
    (0 until 5000).foreach(i => a.insertLong(i.toLong))
    (2500 until 7500).foreach(i => b.insertLong(i.toLong))
    val u = a.copySketch().unionInPlace(b)
    assert(u.approximateElementCount >= a.approximateElementCount)
    assert(math.abs(u.approximateElementCount - 7500) / 7500 < 0.05)
    val x = a.copySketch().intersectInPlace(b)
    // intersect estimate may over-estimate the true 2500 but is ≤ min input
    assert(x.approximateElementCount <= math.min(a.approximateElementCount,
      b.approximateElementCount) + 1.0)
  }

  // ------------------------------------------- injected hash-pair matrix
  // The reference's KMBloomFilter<H1,H2> genericity: its integration
  // suite sweeps hasher combinations with per-pair FPR margins
  // (integration.rs:39–146, margins 0.005–0.04 at n=1e6). Same sweep
  // here over the registered pairs, (FPR margin, element-count tolerance)
  // re-tuned per pair: FNV-1a as the BASE hash under-disperses the i=0
  // segment on sequential 8-byte keys (the i=0 probe index depends only
  // on h1, and FNV outputs of low-entropy inputs form a lattice mod bph),
  // which skews the popcount-based element estimate ~2% low while the
  // probe-sequence FPR — protected by the avalanche h2 for i ≥ 1 —
  // stays within the same margins as the default pair.
  private val PairMargins: Seq[(KMHashPair, Double, Double)] = Seq(
    (KMHashPair.XxMurmur, 0.05, 0.01),
    (KMHashPair.XxFnv, 0.06, 0.01),
    (KMHashPair.FnvMurmur, 0.06, 0.03),
    (KMHashPair.XxXx, 0.05, 0.01))

  test("FPR matrix: every registered hash pair within its margin (integration.rs:39–146 sweep)") {
    val n = 200000
    for ((pair, margin, countTol) <- PairMargins)
      withClue(s"pair ${pair.name}: ") {
        fprGate(KMBloomSketch(n.toLong, 0.001, pair), n, 0.001, margin, countTol)
      }
  }

  test("union ≡ bulk holds for every registered pair") {
    val n = 20000
    for ((pair, _, _) <- PairMargins) {
      val cfg = BloomConfig(n.toLong, 0.001)
      val whole = KMBloomSketch(cfg, pair)
      val left = KMBloomSketch(cfg, pair)
      val right = KMBloomSketch(cfg, pair)
      (0 until n).foreach { i =>
        whole.insertLong(i.toLong)
        if (i % 2 == 0) left.insertLong(i.toLong) else right.insertLong(i.toLong)
      }
      assert(left.copySketch().unionInPlace(right) === whole, pair.name)
    }
  }

  test("cross-pair merge rejected (reference: different type params = different types)") {
    val a = KMBloomSketch(1000L, 0.01, KMHashPair.XxMurmur)
    val b = KMBloomSketch(1000L, 0.01, KMHashPair.XxFnv)
    intercept[IllegalArgumentException](a.copySketch().unionInPlace(b))
    intercept[IllegalArgumentException](a.copySketch().intersectInPlace(b))
  }

  test("codec round-trips the hash pair (probe after decode uses the built pair)") {
    for ((pair, _, _) <- PairMargins) {
      val f = KMBloomSketch(1000L, 0.01, pair)
      (0 until 500).foreach(i => f.insert(s"k$i"))
      val back = SketchCodec.decodeBloom(SketchCodec.encodeBloom(f))
      assert(back.asInstanceOf[KMBloomSketch].hashers === pair)
      assert(back === f)
      (0 until 500).foreach(i => assert(back.mightContain(s"k$i"), pair.name))
    }
  }

  test("codec still decodes v1 blobs (pre-hash-pair checkpoints stay resumable)") {
    val f = KMBloomSketch(1000L, 0.01) // default pair — the only pair v1 could hold
    (0 until 500).foreach(i => f.insert(s"k$i"))
    val v2 = SketchCodec.encodeBloom(f)
    // synthesize the v1 layout: version byte back to 1, hasherId byte
    // (payload offset 2 = absolute offset 8) spliced out
    val v1 = new Array[Byte](v2.length - 1)
    System.arraycopy(v2, 0, v1, 0, 8)
    System.arraycopy(v2, 9, v1, 8, v2.length - 9)
    v1(5) = 1
    val back = SketchCodec.decodeBloom(v1)
    assert(back === f)
    assert(back.asInstanceOf[KMBloomSketch].hashers === KMHashPair.XxMurmur)
    (0 until 500).foreach(i => assert(back.mightContain(s"k$i")))
  }

  test("custom injected pair works at kernel level; codec refuses it") {
    val pair = KMHashPair.custom(
      b => Hashing.murmur3_128(b, 7L)._2, b => Hashing.fnv1a64(b, 13L), "mur128hi+fnv")
    val f = KMBloomSketch(10000L, 0.001, pair)
    (0 until 10000).foreach(i => f.insertLong(i.toLong))
    (0 until 10000).foreach(i => assert(f.mightContainLong(i.toLong)))
    var fp = 0
    (10000 until 20000).foreach(i => if (f.mightContainLong(i.toLong)) fp += 1)
    assert(fp <= 10000 * 0.001 * 1.10 + 3 * math.sqrt(10000 * 0.001) + 1, s"custom-pair FPs: $fp")
    intercept[IllegalArgumentException](SketchCodec.encodeBloom(f))
  }

  test("two DIFFERENT custom pairs refuse to merge (shared id -1 is not an identity)") {
    val p1 = KMHashPair.custom(b => Hashing.xxHash64(b, 1L), b => Hashing.fnv1a64(b, 1L), "c1")
    val p2 = KMHashPair.custom(b => Hashing.xxHash64(b, 2L), b => Hashing.fnv1a64(b, 2L), "c2")
    val a = KMBloomSketch(1000L, 0.01, p1)
    val b = KMBloomSketch(1000L, 0.01, p2)
    a.insert("x"); b.insert("y")
    intercept[IllegalArgumentException](a.copySketch().unionInPlace(b))
    intercept[IllegalArgumentException](a.copySketch().intersectInPlace(b))
    // the SAME pair instance is provably the same pair — merge allowed
    val c = KMBloomSketch(1000L, 0.01, p1)
    c.insert("z")
    val merged = a.copySketch().unionInPlace(c)
    assert(merged.mightContain("x") && merged.mightContain("z"))
  }

  test("codec version is PER TYPE (and per blob for HLL/CMS): dense stays v1") {
    // an older reader must keep accepting every blob whose layout is
    // unchanged during a rolling upgrade: theta/KLL/t-digest/bottom-k
    // always v1; HLL/CMS v1 whenever they encode DENSE; Bloom v2
    // whenever it encodes dense. Sparse blobs are the only new layouts,
    // each stamped with a version the PREVIOUS reader rejects: HLL/CMS
    // sparse (round 3) is v3 (NOT v2: one earlier build wrote v2 on
    // dense payloads — SparseCodecSpec pins that v2 still decodes
    // dense); Bloom sparse (round 5) is v4 (NOT v3: the round-3/4
    // reader accepts v3 globally but has no Bloom sparse branch, so a
    // v3 sparse Bloom would misparse there instead of failing fast).
    // The compact HLL sparse, t-digest and weighted-sample layouts are v5,
    // above every earlier reader's max of 4.
    def versionByte(b: Array[Byte]): Byte = b(5)
    // a lightly-filled Bloom now encodes sparse = v4; a heavily-filled
    // one keeps the byte-identical dense v2 layout (SparseCodecSpec
    // covers the round-trips; here we pin only the version bytes)
    val bloom = KMBloomSketch(100L, 0.01); bloom.insert("a")
    assert(versionByte(SketchCodec.encodeBloom(bloom)) === 4)
    val bloomFull = KMBloomSketch(3000L, 0.001)
    (0 until 3000).foreach(i => bloomFull.insert(s"k$i"))
    assert(versionByte(SketchCodec.encodeBloom(bloomFull)) === 2)
    // a near-full HLL encodes dense = v1; a near-empty one compact = v5
    val hllFull = HLLSketch()
    (0 until 200000).foreach(i => hllFull.updateHash(Hashing.xxHash64Long(i.toLong, 7L)))
    assert(versionByte(SketchCodec.encodeHll(hllFull)) === 1)
    val hllSmall = HLLSketch(); hllSmall.updateHash(42L)
    assert(versionByte(SketchCodec.encodeHll(hllSmall)) === 5)
    val cmsFull = CMSSketch(0.01, 0.01)
    (0 until 20000).foreach(i => cmsFull.updateHash(Hashing.xxHash64Long(i.toLong, 7L)))
    assert(versionByte(SketchCodec.encodeCms(cmsFull)) === 1)
    val cmsSmall = CMSSketch(0.01, 0.01); cmsSmall.updateHash(42L)
    assert(versionByte(SketchCodec.encodeCms(cmsSmall)) === 3)
    val theta = ThetaSketch(); theta.updateHash(42L)
    assert(versionByte(SketchCodec.encodeTheta(theta)) === 1)
    val td = TDigestSketch(); td.update(1.0)
    assert(versionByte(SketchCodec.encodeTDigest(td)) === 5)
    val wbk = WeightedBottomKSketch(16); wbk.update(Hashing.utf8("a"), 1.0)
    assert(versionByte(SketchCodec.encodeWeightedBottomK(wbk)) === 5)
    val kll = KLLSketch(); kll.update(1.0)
    assert(versionByte(SketchCodec.encodeKll(kll)) === 1)
    val bk = BottomKSketch(16); bk.update(Hashing.utf8("a"))
    assert(versionByte(SketchCodec.encodeBottomK(bk)) === 1)
  }
}
