package graft.spark

import java.nio.file.Files
import java.sql.Timestamp

import graft.core._
import graft.spark.catalyst._
import graft.streaming.StreamingSketch
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.types.BinaryType
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Catalyst's contract for an aggregate whose merge may return its
  * argument and whose serialize may return the bytes it was given
  * (SketchBuffer): the sort-based fallback, `Dataset.observe` (which
  * merges buffer objects directly) and stateful streaming all build the
  * same sketches as a plain hash aggregation. */
class SketchBufferSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("graft-sketch-buffer-test")
    .getOrCreate()

  private val FallbackThreshold = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"

  /** Every sketch aggregate; the set-like ones are merge-tree independent,
    * so their blobs must be bit-equal under any aggregation path. */
  private def setLikeAggs(k: Column, i: Column): Seq[(String, Column)] = Seq(
    "bloom" -> bloomAggNative(3000L, 0.01)(k, i),
    "seeded" -> graft.spark.functions.bloomSeededAgg(3000L, 0.01)(k.cast("binary")),
    "cbf" -> graft.spark.functions.cbfAgg(3000L, 0.01)(k.cast("binary"), (i % 3 - 1).cast("long")),
    "hll" -> hllAggNative(k),
    "cms" -> cmsAggNative(0.01, 0.01)(k),
    "theta" -> thetaAggNativeK(64)(k),
    "bottomk" -> bottomKSampleAgg(16)(k),
    "wbk" -> weightedBottomKSampleAgg(16)(k, (i % 5 + 1).cast("double")))
  private def setLike(k: Column, i: Column): Seq[Column] =
    setLikeAggs(k, i).map { case (n, c) => c.as(n) }
  private val setLikeNames = setLikeAggs(lit(""), lit(0)).map(_._1)
  /** The order-dependent ones, checked by the weight they account for. */
  private def counted(v: Column, k: Column): Seq[Column] = Seq(
    tdigestAggNative(v).as("tdigest"), kllAggNative(v).as("kll"), mgAgg(8)(k).as("mg"))
  private def weights(blob: String => Array[Byte]): (Double, Long, Long) = (
    SketchCodec.decodeTDigest(blob("tdigest")).count,
    SketchCodec.decodeKll(blob("kll")).count,
    SketchCodec.decodeMg(blob("mg")).processedCount)

  private def blobs(df: DataFrame, key: String, cols: Seq[String]): Map[Any, Seq[Seq[Byte]]] =
    df.collect().map(r => r.getAs[Any](key) -> cols.map(c => r.getAs[Array[Byte]](c).toSeq)).toMap

  test("the sort-based fallback (threshold 2) builds the same sketches as the hash path") {
    def session(threshold: Int): SparkSession = {
      val s = spark.newSession()
      s.conf.set(FallbackThreshold, threshold.toString)
      s
    }
    def run(s: SparkSession): (DataFrame, DataFrame) = {
      val rows = s.range(0, 24000, 1, 4)
        .select((col("id") % 300).as("g"), concat(lit("k"), (col("id") % 2500).cast("string")).as("k"),
          col("id").as("i"))
      val first = rows.groupBy(col("g"))
        .agg(count(lit(1)).as("n"), (setLike(col("k"), col("i")) ++
          counted(col("i").cast("double"), col("k"))): _*)
        .cache()
      // second level over the first level's blobs, through the same fallback
      val rolled = first.groupBy((col("g") % 7).as("r"))
        .agg(sum(col("n")).as("n"), setLikeNames.map(c => sketchMergeAgg(col(c)).as(c)) ++
          Seq("tdigest", "kll", "mg").map(c => sketchMergeAgg(col(c)).as(c)): _*)
      (first, rolled)
    }
    val (hashFirst, hashRolled) = run(session(1000000))
    val (sortFirst, sortRolled) = run(session(2))
    assert(blobs(sortFirst, "g", setLikeNames) == blobs(hashFirst, "g", setLikeNames))
    assert(blobs(sortRolled, "r", setLikeNames) == blobs(hashRolled, "r", setLikeNames))
    Seq(sortFirst, sortRolled, hashFirst, hashRolled).foreach { df =>
      df.collect().foreach { r =>
        val n = r.getAs[Long]("n")
        assert(weights(r.getAs[Array[Byte]](_)) == ((n.toDouble, n, n)))
      }
    }
    assert(sortFirst.count() == 300 && sortRolled.count() == 7)
    Seq(hashFirst, sortFirst).foreach(_.unpersist())
  }

  test("Dataset.observe merges sketch buffer objects into the batch result") {
    val df = spark.range(0, 20000, 1, 8)
      .select(concat(lit("k"), (col("id") % 5000).cast("string")).as("k"), col("id").as("i"))
    val obs = Observation("sketches")
    // observed metrics take no FILTER clause, which the byte-key builders
    // (seeded Bloom, counting Bloom) carry for their null keys
    val observed = setLikeAggs(col("k"), col("i")).filterNot(a => Set("seeded", "cbf")(a._1))
    val aggs = observed.map { case (n, c) => c.as(n) } ++
      counted(col("i").cast("double"), col("k"))
    df.observe(obs, aggs.head, aggs.tail: _*).collect()
    val seen = obs.get
    val batch = df.agg(aggs.head, aggs.tail: _*).head
    observed.map(_._1).foreach { c =>
      assert(seen(c).asInstanceOf[Array[Byte]].sameElements(batch.getAs[Array[Byte]](c)),
        s"observed $c differs from the batch aggregate")
    }
    assert(weights(seen(_).asInstanceOf[Array[Byte]]) == ((20000.0, 20000L, 20000L)))
  }

  test("three micro-batches of windowedSketches, >128 groups a partition, equal the batch build") {
    val session = spark
    import session.implicits._
    val dir = Files.createTempDirectory("graft_sketch_buffer").toString
    val input = s"$dir/in"
    val base = 1700000000000L
    // 100 six-hour windows x 8 tools = 800 groups over 2 shuffle partitions;
    // every file (one micro-batch each) touches every group
    (0 until 3).foreach { f =>
      (0 until 9600).map { j =>
        val i = f * 9600 + j
        (new Timestamp(base + (i % 100) * 6L * 3600 * 1000 + (i / 800) * 1000L),
          s"tool${i / 100 % 8}", s"conv${i % 1300}", i / 13)
      }.toDF("ts", "tool", "conv_id", "turn_idx").coalesce(1)
        .write.mode("append").parquet(input)
    }
    val stream = spark.readStream.schema(spark.read.parquet(input).schema)
      .option("maxFilesPerTrigger", "1").parquet(input)
    val q = StreamingSketch.windowedSketches(stream, capacity = 2000L).writeStream
      .outputMode("complete").trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$dir/ckpt")
      .format("memory").queryName("sketch_buffer_windows").start()
    try q.awaitTermination() finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) == 3)

    val cols = Seq("hll_convs", "bloom_turns", "theta_convs", "wbk_convs")
    def keyed(df: DataFrame): Map[(String, String), (Long, Seq[Seq[Byte]])] =
      df.collect().map(r => (r.get(0).toString, r.getString(1)) ->
        ((r.getAs[Long]("n_turns"), cols.map(c => r.getAs[Array[Byte]](c).toSeq)))).toMap
    val streamed = spark.table("sketch_buffer_windows")
    val batch = StreamingSketch.windowedSketches(spark.read.parquet(input), capacity = 2000L)
    val got = keyed(streamed)
    assert(got.size == 800)
    assert(got == keyed(batch))
    streamed.collect().foreach { r =>
      val n = r.getAs[Long]("n_turns")
      assert(SketchCodec.decodeTDigest(r.getAs[Array[Byte]]("tdigest_turns")).count == n.toDouble)
      assert(SketchCodec.decodeKll(r.getAs[Array[Byte]]("kll_turns")).count == n)
      assert(SketchCodec.decodeMg(r.getAs[Array[Byte]]("mg_convs")).processedCount == n)
    }
  }

  test("a held blob is checked once: checked, then serialize, walk it once") {
    var checks = 0
    val agg = new SketchMergeAgg(BoundReference(0, BinaryType, nullable = true)) {
      override protected def canonical(bytes: Array[Byte]): Boolean = { checks += 1; super.canonical(bytes) }
    }
    def fold(blob: Array[Byte]) =
      agg.checked(agg.update(agg.createAggregationBuffer(), InternalRow(blob)))
    val h = HLLSketch()
    (0 until 100).foreach(i => h.update(s"k$i"))
    val blob = SketchCodec.encodeHll(h)
    val held = fold(blob)
    assert(checks == 1)
    assert((agg.serialize(held) eq blob) && (agg.eval(held).asInstanceOf[AnyRef] eq blob))
    assert(checks == 1, "serialize checked a blob that checked had passed")
    // a blob that is not canonical is checked once, decoded, then re-encoded
    val legacy = GoldenBlobs.hllV3Sparse(h)
    val decoded = fold(legacy)
    assert(checks == 2)
    assert(agg.serialize(decoded).sameElements(blob) && checks == 2)
  }
}
