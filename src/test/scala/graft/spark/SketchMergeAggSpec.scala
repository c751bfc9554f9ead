package graft.spark

import graft.core._
import graft.spark.catalyst._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Two-stage (salted) aggregation: stage-1 sketches per (key, salt),
  * stage-2 sketchMergeAgg per key — must equal a direct one-stage build
  * (bit-identical for Bloom/HLL/CMS, bound-level for t-digest/KLL). */
class SketchMergeAggSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("graft-merge-test")
    .getOrCreate()

  test("two-stage salted HLL/Bloom/CMS == direct build, state-identical") {
    import spark.implicits._
    val df = (0 until 40000).map(i => (s"g${i % 3}", s"item-$i", i)).toDF("g", "k", "i")
    val twoStage = df
      .groupBy($"g", saltBucket(16, $"i").as("salt"))
      .agg(hllAggNative($"k").as("h"),
        bloomAggNative(20000L, 0.001)($"k").as("b"),
        cmsAggNative(0.01, 0.01)($"k").as("c"))
      .groupBy($"g")
      .agg(sketchMergeAgg($"h").as("h"), sketchMergeAgg($"b").as("b"),
        sketchMergeAgg($"c").as("c"))
    val direct = df.groupBy($"g")
      .agg(hllAggNative($"k").as("h"),
        bloomAggNative(20000L, 0.001)($"k").as("b"),
        cmsAggNative(0.01, 0.01)($"k").as("c"))
    val ts = twoStage.collect().map(r => r.getString(0) -> r).toMap
    direct.collect().foreach { r =>
      val g = r.getString(0)
      assert(SketchCodec.decodeHll(ts(g).getAs[Array[Byte]]("h")) ===
        SketchCodec.decodeHll(r.getAs[Array[Byte]]("h")), s"HLL differs for $g")
      assert(SketchCodec.decodeBloom(ts(g).getAs[Array[Byte]]("b")) ===
        SketchCodec.decodeBloom(r.getAs[Array[Byte]]("b")), s"Bloom differs for $g")
      assert(SketchCodec.decodeCms(ts(g).getAs[Array[Byte]]("c")) ===
        SketchCodec.decodeCms(r.getAs[Array[Byte]]("c")), s"CMS differs for $g")
      // key convention preserved through the merge
      assert(SketchCodec.bloomKeyMode(ts(g).getAs[Array[Byte]]("b")) ===
        SketchCodec.KeyMode.RowHash)
    }
  }

  test("two-stage quantile sketches stay within bound") {
    import spark.implicits._
    val rnd = new scala.util.Random(3L)
    val vals = Array.fill(60000)(rnd.nextDouble() * 100)
    val sorted = vals.sorted
    def rankOf(x: Double): Double = {
      var lo = 0; var hi = sorted.length
      while (lo < hi) { val m = (lo + hi) / 2; if (sorted(m) <= x) lo = m + 1 else hi = m }
      lo.toDouble / sorted.length
    }
    val df = vals.zipWithIndex.map { case (v, i) => (v, i) }.toSeq.toDF("v", "i")
    val merged = df.groupBy(saltBucket(16, $"i").as("salt"))
      .agg(tdigestAggNative($"v").as("t"), kllAggNative($"v").as("k"))
      .agg(sketchMergeAgg($"t").as("t"), sketchMergeAgg($"k").as("k")).head
    val td = SketchCodec.decodeTDigest(merged.getAs[Array[Byte]]("t"))
    val kll = SketchCodec.decodeKll(merged.getAs[Array[Byte]]("k"))
    for (q <- Seq(0.5, 0.95, 0.99)) {
      assert(math.abs(rankOf(td.quantile(q)) - q) <= 0.02, s"tdigest q=$q")
      assert(math.abs(rankOf(kll.quantile(q)) - q) <= 3 * kll.normalizedRankError, s"kll q=$q")
    }
    assert(kll.count === 60000L)
  }

  test("merge agg rejects mixed sketch types and empty input yields null") {
    import spark.implicits._
    val df = (0 until 100).map(i => s"k$i").toDF("k")
    val hll = df.agg(hllAggNative($"k")).head.getAs[Array[Byte]](0)
    val bloom = df.agg(bloomAggNative(100L, 0.01)($"k")).head.getAs[Array[Byte]](0)
    val e = intercept[Exception](
      Seq(hll, bloom).toDF("s").agg(sketchMergeAgg($"s")).collect())
    assert(e != null)
    val empty = spark.emptyDataFrame.select(lit(Array.emptyByteArray).as("s")).limit(0)
    val out = Seq.empty[Array[Byte]].toDF("s").agg(sketchMergeAgg($"s")).head
    assert(out.isNullAt(0))
  }

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)

  test("holder merge: mixed types and Bloom key modes from different partitions are rejected") {
    import spark.implicits._
    import graft.spark.{functions => gf}
    val df = (0 until 100).map(i => s"k$i").toDF("k")
    val hll = df.agg(hllAggNative($"k")).head.getAs[Array[Byte]](0)
    val rowHash = df.agg(bloomAggNative(100L, 0.01)($"k")).head.getAs[Array[Byte]](0)
    val byteKey = df.agg(gf.bloomAgg(100L, 0.01)(gf.sketchKey($"k"))).head.getAs[Array[Byte]](0)
    // one blob per partition: each partial buffer holds a single sketch,
    // so the mismatch can only surface where the final step merges them
    def mergeAcross(a: Array[Byte], b: Array[Byte]): Seq[String] = messages(intercept[Exception](
      spark.createDataset(spark.sparkContext.parallelize(Seq(a, b), 2)).toDF("s")
        .agg(sketchMergeAgg($"s")).collect()))
    assert(mergeAcross(hll, rowHash).exists(_.contains("cannot merge sketch type")))
    assert(mergeAcross(rowHash, byteKey).exists(_.contains("different key conventions")))
  }

  test("holder merge unions decoded sketches; an empty buffer takes the other holder") {
    def keys(r: Range): Seq[Array[Byte]] = r.map(i => s"key-$i".getBytes("UTF-8"))
    // (blob of 0..49, blob of 50..99) per codec type
    def blobs(r: Range): Seq[Array[Byte]] = {
      val bloom = KMBloomSketch(1000L, 0.01); val hll = HLLSketch()
      val cms = CMSSketch(0.01, 0.01); val theta = ThetaSketch(16)
      val bk = BottomKSketch(16); val wbk = WeightedBottomKSketch(16)
      val mg = MGSketch(8); val cbf = CountingBloomSketch(1000L, 0.01)
      val kll = KLLSketch(16); val td = TDigestSketch(20.0)
      keys(r).zip(r).foreach { case (k, i) =>
        bloom.insert(k); hll.update(k); cms.update(k); theta.update(k)
        bk.update(k); wbk.update(k, 1.0 + i % 3); mg.update(k); cbf.insert(k)
        kll.update(i.toDouble); td.update(i.toDouble)
      }
      Seq(SketchCodec.encodeBloom(bloom), SketchCodec.encodeHll(hll),
        SketchCodec.encodeCms(cms), SketchCodec.encodeTheta(theta),
        SketchCodec.encodeBottomK(bk), SketchCodec.encodeWeightedBottomK(wbk),
        SketchCodec.encodeMg(mg), SketchCodec.encodeCountingBloom(cbf),
        SketchCodec.encodeKll(kll), SketchCodec.encodeTDigest(td))
    }
    val agg = SketchMergeAgg(org.apache.spark.sql.catalyst.expressions.BoundReference(0,
      org.apache.spark.sql.types.BinaryType, nullable = true))
    def holderOf(bs: Array[Byte]*): SketchBuffer[SketchMergeAgg.Typed] =
      bs.foldLeft(agg.createAggregationBuffer())((h, b) =>
        agg.update(h, org.apache.spark.sql.catalyst.InternalRow(b)))
    def empty = agg.createAggregationBuffer()
    blobs(0 until 50).zip(blobs(50 until 100)).foreach { case (a, b) =>
      val t = SketchCodec.typeOf(a)
      val o = holderOf(a)
      assert(agg.merge(empty, o) eq o, s"type $t: empty buffer copies")
      assert(agg.serialize(o) eq a, s"type $t: an unchanged buffer does not pass its blob through")
      val h = holderOf(a)
      assert(agg.merge(h, empty) eq h, s"type $t: empty input replaces")
      val m = agg.merge(h, holderOf(b))
      assert(m eq h, s"type $t: non-empty buffer is not merged in place")
      assert(agg.serialize(m).sameElements(agg.serialize(holderOf(a, b))),
        s"type $t: holder merge differs from the blob merge")
    }
    assert(agg.eval(agg.merge(empty, empty)) == null)
  }

  test("SQL: per-shard blobs rolled up with graft_sketch_merge_agg") {
    GraftExtensions.register(spark)
    import spark.implicits._
    (0 until 10000).map(i => (i % 32, s"u${i % 2000}")).toDF("shard", "k")
      .createOrReplaceTempView("rows_v")
    val got = spark.sql(
      """SELECT graft_sketch_merge_agg(s) FROM
        |(SELECT shard, graft_hll_agg(k) AS s FROM rows_v GROUP BY shard)""".stripMargin)
      .head.getAs[Array[Byte]](0)
    assert(math.abs(SketchCodec.decodeHll(got).estimate - 2000) <= 60)
  }
}
