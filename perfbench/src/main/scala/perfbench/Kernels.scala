package perfbench

import graft.core._

/** Single-thread timings of the public kernel calls on a workload's own
  * keys: ns per element for insert/probe/update, MB/s for the codec, and
  * the encoded size of each sketch type. */
object Kernels {
  private val Passes = 5

  /** Median seconds of one pass, after one warm-up pass. */
  private def passSecs(pass: => Unit): Double = {
    pass
    Stats.median((1 to Passes).map { _ =>
      val t0 = System.nanoTime()
      pass
      (System.nanoTime() - t0) / 1e9
    })
  }

  private var sink = 0L

  private def perKey(n: Int)(f: Int => Unit): Double = passSecs {
    var i = 0
    while (i < n) { f(i); i += 1 }
  } * 1e9 / n

  /** Encode and decode MB/s of one blob, repeating enough to time ~10 ms. */
  private def codec(blob: Array[Byte], encode: () => Array[Byte], decode: Array[Byte] => AnyRef): (Double, Double) = {
    val reps = math.max(4, math.min(20000, 10000000 / math.max(1, blob.length)))
    val mb = blob.length.toDouble * reps / 1e6
    val enc = passSecs((1 to reps).foreach(_ => sink += encode().length))
    val dec = passSecs((1 to reps).foreach(_ => sink += decode(blob).hashCode))
    (mb / enc, mb / dec)
  }

  def run(keys: Array[Array[Byte]]): Seq[(String, Double, String)] = {
    val n = keys.length
    val others = keys.map(k => k :+ '#'.toByte)
    val values = keys.map(k => (Hashing.xxHash64(k, 0L) >>> 11).toDouble)
    val bloom = KMBloomSketch(n.toLong, Workloads.Fpp)
    val hll = HLLSketch()
    val cms = CMSSketch(Workloads.CmsEps, Workloads.CmsDelta)
    val theta = ThetaSketch()
    val kll = KLLSketch()
    val tdigest = TDigestSketch()

    val hashNs = perKey(n)(i => sink += bloom.baseHashes(keys(i))._1)
    val insertNs = perKey(n)(i => bloom.insert(keys(i)))
    val memberNs = perKey(n)(i => if (bloom.mightContain(keys(i))) sink += 1)
    val nonMemberNs = perKey(n)(i => if (bloom.mightContain(others(i))) sink += 1)
    val hllNs = perKey(n)(i => hll.update(keys(i)))
    val cmsNs = perKey(n)(i => cms.update(keys(i)))
    val thetaNs = perKey(n)(i => theta.update(keys(i)))
    val kllNs = perKey(n)(i => kll.update(values(i)))
    val tdigestNs = perKey(n)(i => tdigest.update(values(i)))

    // a windowed-state-sized filter holding a few hundred keys encodes sparse
    val sparse = KMBloomSketch(StreamRollup.Capacity, Workloads.Fpp)
    keys.iterator.take(500).foreach(sparse.insert)
    val types: Seq[(String, () => Array[Byte], Array[Byte] => AnyRef)] = Seq(
      ("bloom_dense", () => SketchCodec.encodeBloom(bloom), SketchCodec.decodeBloom),
      ("bloom_sparse", () => SketchCodec.encodeBloom(sparse), SketchCodec.decodeBloom),
      ("hll", () => SketchCodec.encodeHll(hll), SketchCodec.decodeHll),
      ("cms", () => SketchCodec.encodeCms(cms), SketchCodec.decodeCms),
      ("theta", () => SketchCodec.encodeTheta(theta), SketchCodec.decodeTheta),
      ("kll", () => SketchCodec.encodeKll(kll), SketchCodec.decodeKll),
      ("tdigest", () => SketchCodec.encodeTDigest(tdigest), SketchCodec.decodeTDigest))
    val codecs = types.map { case (t, enc, dec) =>
      val blob = enc()
      val (e, d) = codec(blob, enc, dec)
      (t, e, d, blob.length.toDouble)
    }
    Seq(("core.hash_ns", hashNs, "ns"), ("core.bloom_insert_ns", insertNs, "ns"),
      ("core.bloom_probe_member_ns", memberNs, "ns"),
      ("core.bloom_probe_nonmember_ns", nonMemberNs, "ns"),
      ("core.hll_update_ns", hllNs, "ns"), ("core.cms_update_ns", cmsNs, "ns"),
      ("core.theta_update_ns", thetaNs, "ns"), ("core.kll_update_ns", kllNs, "ns"),
      ("core.tdigest_update_ns", tdigestNs, "ns")) ++
      codecs.map(c => (s"core.codec_encode_mb_s.${c._1}", c._2, "MB/s")) ++
      codecs.map(c => (s"core.codec_decode_mb_s.${c._1}", c._3, "MB/s")) ++
      codecs.map(c => (s"core.blob_bytes.${c._1}", c._4, "B"))
  }
}

/** The same sketch work through the two aggregation surfaces: byte keys
  * through graft.spark.functions (spark.*) and the native Catalyst
  * aggregates and probe (catalyst.*), over one key table (a, b, c). */
object Surfaces {
  import graft.spark.{functions => gf}
  import graft.spark.catalyst._
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._

  private val Reps = 3

  private def secs[A](f: => A): (Double, A) = {
    f
    val runs = (1 to Reps).map { _ =>
      val t0 = System.nanoTime()
      val a = f
      ((System.nanoTime() - t0) / 1e9, a)
    }
    (Stats.median(runs.map(_._1)), runs.last._2)
  }

  def run(ctx: Ctx, keyTable: DataFrame): Seq[(String, Double, String)] = {
    import Workloads._
    val k = keyTable.cache()
    try {
      val n = k.count()
      val (a, b, c) = (col("a"), col("b"), col("c"))
      def build(aggs: (String, org.apache.spark.sql.Column)*): Array[Byte] =
        shardedSketchBlobs(k, BuildShards, a)(aggs: _*).head.getAs[Array[Byte]]("bloom")
      val (byteBuild, byteBloom) = secs(build(
        "bloom" -> gf.bloomAgg(n, Fpp)(gf.sketchKey(a, b)),
        "hll" -> gf.hllAgg(gf.sketchKey(a)),
        "cms" -> gf.cmsAgg(CmsEps, CmsDelta)(gf.sketchKey(c))))
      val (nativeBuild, nativeBloom) = secs(build(
        "bloom" -> bloomAggNative(n, Fpp)(a, b),
        "hll" -> hllAggNative(a),
        "cms" -> cmsAggNative(CmsEps, CmsDelta)(c)))
      val (byteProbe, byteHits) = secs(k.filter(gf.bloomProbe(byteBloom)(gf.sketchKey(a, b))).count())
      val (nativeProbe, nativeHits) =
        secs(k.filter(bloomMightContainNative(lit(nativeBloom), a, b)).count())
      require(byteHits == n && nativeHits == n,
        s"false negatives probing inserted keys: byte-key $byteHits, native $nativeHits of $n")
      val groups = k.groupBy(pmod(xxhash64(a), lit(64L))).agg(
        hllAggNative(a).as("h"), thetaAggNative(a).as("t"),
        bloomAggNative(n / 64 + 1000, Fpp)(a, b).as("bl")).cache()
      try {
        groups.count()
        val (merge, _) = secs(groups.agg(sketchMergeAgg(col("h")), sketchMergeAgg(col("t")),
          sketchMergeAgg(col("bl"))).head)
        Seq(("spark.build_s", byteBuild, "s"), ("catalyst.build_s", nativeBuild, "s"),
          ("spark.probe_s", byteProbe, "s"), ("catalyst.probe_s", nativeProbe, "s"),
          ("catalyst.merge_s", merge, "s"))
      } finally groups.unpersist()
    } finally k.unpersist()
  }
}
