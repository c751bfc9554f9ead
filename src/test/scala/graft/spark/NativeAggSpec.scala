package graft.spark

import graft.core._
import graft.spark.catalyst._
import graft.spark.{functions => gf}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class NativeAggSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("graft-native-test")
    .getOrCreate()

  test("native Bloom agg: zero FN on multi-column keys, FPs bounded, partition-invariant") {
    import spark.implicits._
    val df = (0 until 30000).map(i => (s"conv-${i % 1000}", i / 1000)).toDF("c", "t")
    def build(parts: Int) =
      df.repartition(parts).agg(bloomAggNative(30000L, 0.001)($"c", $"t"))
        .head.getAs[Array[Byte]](0)
    val sk = build(4)
    assert(SketchCodec.decodeBloom(build(1)) === SketchCodec.decodeBloom(sk),
      "partitioning changed native Bloom state")
    assert(SketchCodec.bloomKeyMode(sk) === SketchCodec.KeyMode.RowHash)
    // probe every inserted key via the native expression — zero FN
    val hits = df.filter(bloomMightContainNative(lit(sk), $"c", $"t")).count()
    assert(hits === 30000L)
    // disjoint probes mostly miss
    val fps = df.select($"c", ($"t" + 1000000).as("t"))
      .filter(bloomMightContainNative(lit(sk), $"c", $"t")).count()
    assert(fps <= 30000 * 0.001 * 1.05 + 3 * math.sqrt(30) + 1, s"FPs: $fps")
  }

  test("native theta agg: partition-invariant state, set ops vs exact, merge rollup") {
    import spark.implicits._
    // 20k distinct (c, t) keys; A = even t, B = t < 12 — overlapping sets
    val df = (0 until 20000).map(i => (s"conv-${i % 1000}", i / 1000)).toDF("c", "t")
    def build(parts: Int, cond: org.apache.spark.sql.Column) =
      df.filter(cond).repartition(parts).agg(thetaAggNative($"c", $"t"))
        .head.getAs[Array[Byte]](0)
    val a1 = build(1, $"t" % 2 === 0)
    val a16 = build(16, $"t" % 2 === 0)
    assert(SketchCodec.decodeTheta(a1) === SketchCodec.decodeTheta(a16),
      "partitioning changed native theta state")
    val b = build(4, $"t" < 12)
    val inter = SketchCodec.decodeTheta(a1).intersect(SketchCodec.decodeTheta(b))
    val exact = df.filter($"t" % 2 === 0 && $"t" < 12).count()
    val k = ThetaSketch.DefaultK
    val nU = df.filter($"t" % 2 === 0 || $"t" < 12).count()
    val slack = 5 * math.sqrt(nU.toDouble / k) * math.sqrt(nU.toDouble) + 1e-9
    assert(math.abs(inter.estimate - exact) <= slack, s"∩ est ${inter.estimate} vs $exact")
    // second-level rollup: per-group theta blobs folded by sketchMergeAgg
    // equal the direct global build
    val global = df.agg(thetaAggNative($"c", $"t")).head.getAs[Array[Byte]](0)
    val rolled = df.groupBy($"t").agg(thetaAggNative($"c", $"t").as("s"))
      .agg(sketchMergeAgg($"s")).head.getAs[Array[Byte]](0)
    assert(SketchCodec.decodeTheta(rolled) === SketchCodec.decodeTheta(global),
      "sketchMergeAgg theta rollup diverged from direct build")
  }

  test("native and udaf paths agree on estimates (different key conventions)") {
    import spark.implicits._
    val df = (0 until 20000).map(i => s"u${i % 3777}").toDF("k")
    val nat = SketchCodec.decodeHll(
      df.agg(hllAggNative($"k")).head.getAs[Array[Byte]](0)).estimate
    val ud = SketchCodec.decodeHll(
      df.agg(gf.hllAgg(gf.sketchKey($"k"))).head.getAs[Array[Byte]](0)).estimate
    assert(math.abs(nat - 3777) <= 3 * 1.04 / math.sqrt(1 << 14) * 3777 + 1)
    assert(math.abs(ud - 3777) <= 3 * 1.04 / math.sqrt(1 << 14) * 3777 + 1)
  }

  test("native CMS: estimate ≥ exact, ≤ exact + εN; native quantile sketches in bound") {
    import spark.implicits._
    val df = (0 until 30000).map(i => (s"tool${i % 7}", i.toDouble)).toDF("tool", "v")
    val cms = df.agg(cmsAggNative(0.001, 0.01)($"tool")).head.getAs[Array[Byte]](0)
    val perTool = df.groupBy($"tool").count().collect().map(r => r.getString(0) -> r.getLong(1))
    val estRows = df.groupBy($"tool").count()
      .select($"tool", cmsEstimateNative(lit(cms), $"tool").as("est"), $"count")
      .collect()
    estRows.foreach { r =>
      val est = r.getAs[Long]("est")
      val exact = r.getAs[Long]("count")
      assert(est >= exact && est <= exact + 30, s"tool=${r.getString(0)} est=$est exact=$exact")
    }
    assert(perTool.length === 7)
    val td = SketchCodec.decodeTDigest(
      df.agg(tdigestAggNative($"v")).head.getAs[Array[Byte]](0))
    val kll = SketchCodec.decodeKll(
      df.agg(kllAggNative($"v")).head.getAs[Array[Byte]](0))
    // values are 0..29999 uniformly: value/30000 ≈ rank
    for (q <- Seq(0.5, 0.95, 0.99)) {
      assert(math.abs(td.quantile(q) / 30000.0 - q) <= 0.02, s"tdigest q=$q")
      assert(math.abs(kll.quantile(q) / 30000.0 - q) <= 3 * kll.normalizedRankError, s"kll q=$q")
    }
  }

  test("key-convention safety: cross-probing throws instead of silently missing") {
    import spark.implicits._
    val df = (0 until 100).map(i => s"k$i").toDF("k")
    val nativeSketch = df.agg(bloomAggNative(100L, 0.01)($"k")).head.getAs[Array[Byte]](0)
    val byteSketch = df.agg(gf.bloomAgg(100L, 0.01)(gf.sketchKey($"k"))).head.getAs[Array[Byte]](0)
    // byte-key probe on a native sketch → error
    val e1 = intercept[Exception](
      df.filter(gf.bloomProbe(nativeSketch)(gf.sketchKey($"k"))).count())
    assert(e1.getMessage.contains("native") || e1.getCause != null)
    // native probe on a byte-key sketch → error
    val e2 = intercept[Exception](
      df.filter(bloomMightContainNative(lit(byteSketch), $"k")).count())
    assert(e2 != null)
    // union across conventions → error
    val e3 = intercept[Exception](
      Seq((nativeSketch, byteSketch)).toDF("a", "b")
        .select(gf.bloomUnion($"a", $"b")).collect())
    assert(e3 != null)
    // both surfaces build through the same aggregate classes, so the
    // header's KeyMode is all that keeps them apart: every cross probe,
    // Bloom and CMS, fails with the guard's IllegalArgumentException
    def guardIae(body: => Any, msg: String): Unit = {
      def chain(t: Throwable): Seq[Throwable] = if (t == null) Nil else t +: chain(t.getCause)
      val ex = intercept[Exception](body)
      assert(chain(ex).exists(t => t.isInstanceOf[IllegalArgumentException] &&
        t.getMessage.contains(msg)), s"expected IllegalArgumentException '$msg', got ${chain(ex)}")
    }
    val nativeCms = df.agg(cmsAggNative(0.01, 0.01)($"k")).head.getAs[Array[Byte]](0)
    val byteCms = df.agg(gf.cmsAgg(0.01, 0.01)(gf.sketchKey($"k"))).head.getAs[Array[Byte]](0)
    assert(SketchCodec.bloomKeyMode(byteSketch) === SketchCodec.KeyMode.Bytes)
    assert(SketchCodec.cmsKeyMode(byteCms) === SketchCodec.KeyMode.Bytes)
    assert(SketchCodec.cmsKeyMode(nativeCms) === SketchCodec.KeyMode.RowHash)
    guardIae(df.filter(gf.bloomProbe(nativeSketch)(gf.sketchKey($"k"))).count(),
      "built with native row-hash keys")
    guardIae(df.filter(gf.bloomMightContain(lit(nativeSketch), gf.sketchKey($"k"))).count(),
      "built with native row-hash keys")
    guardIae(df.filter(bloomMightContainNative(lit(byteSketch), $"k")).count(),
      "built with byte keys")
    guardIae(df.select(gf.cmsEstimate(lit(nativeCms), gf.sketchKey($"k"))).collect(),
      "built with native row-hash keys")
    guardIae(df.select(cmsEstimateNative(lit(byteCms), $"k")).collect(),
      "built with byte keys")
  }

  test("native aggregates survive grouped aggregation with many groups") {
    import spark.implicits._
    val df = (0 until 20000).map(i => (i % 64, s"item-$i")).toDF("shard", "k")
    val shards = df.groupBy($"shard")
      .agg(bloomAggNative(400L, 0.01)($"k").as("sk"), hllAggNative($"k").as("h"))
      .collect()
    assert(shards.length === 64)
    val merged = shards.map(r => SketchCodec.decodeBloom(r.getAs[Array[Byte]]("sk")))
      .reduceLeft((a, b) => a.unionInPlace(b))
    // spot-check membership through the merged per-shard sketches
    val probeDf = (0 until 20000).map(i => s"item-$i").toDF("k")
    val hits = probeDf.filter(
      bloomMightContainNative(lit(SketchCodec.encodeBloom(merged,
        SketchCodec.KeyMode.RowHash)), $"k")).count()
    assert(hits === 20000L)
  }
}
