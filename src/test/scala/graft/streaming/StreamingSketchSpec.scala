package graft.streaming

import graft.core.{KMBloomSketch, SketchCodec}
import graft.spark.catalyst._
import graft.spark.Transcripts
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class StreamingSketchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("graft-stream-test")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  /** Stage the transcript table as a multi-file parquet dir so readStream
    * has files to micro-batch over. */
  private def stageStreamInput(): String = {
    val dir = Files.createTempDirectory("graft_stream").toString + "/in"
    Transcripts.load(spark, sf).repartition(8).write.parquet(dir)
    dir
  }

  test("windowed streaming aggregation with native sketches == batch result") {
    val dir = stageStreamInput()
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = StreamingSketch.windowedSketches(stream)
      .writeStream.format("memory").queryName("win_sketches")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.sql("SELECT * FROM win_sketches")
    assert(got.count() > 0, "no windows emitted")
    // per-(window, tool) HLL estimates must match exact distinct counts
    // (tiny groups → linear counting is exact)
    val batch = StreamingSketch.windowedSketches(
      spark.read.parquet(dir)).collect()
      .map(r => (r.get(0).toString, r.getString(1)) -> r.getAs[Long]("n_turns")).toMap
    got.collect().foreach { r =>
      val est = SketchCodec.decodeHll(r.getAs[Array[Byte]]("hll_convs")).estimate
      val nTurns = r.getAs[Long]("n_turns")
      assert(est > 0 && est <= nTurns + 2)
      assert(batch((r.get(0).toString, r.getString(1))) === nTurns,
        "stream window row count != batch")
    }
    // stream's bloom for one window has zero FN vs the batch rows in it
    val row = got.orderBy(col("n_turns").desc).head
    val bloomBlob = row.getAs[Array[Byte]]("bloom_turns")
    val windowStart = row.getStruct(0).getTimestamp(0)
    val windowEnd = row.getStruct(0).getTimestamp(1)
    val tool = row.getString(1)
    val inWindow = spark.read.parquet(dir)
      .withColumn("ts_utc", col("ts").cast("timestamp"))
      .filter(col("tool") === tool && col("ts_utc") >= lit(windowStart)
        && col("ts_utc") < lit(windowEnd))
    val n = inWindow.count()
    val hits = inWindow.filter(
      bloomMightContainNative(lit(bloomBlob), col("conv_id"), col("turn_idx"))).count()
    assert(hits === n, s"streaming bloom lost keys: $hits of $n")
    // theta over the same window is in exact mode (distinct convs ≪ k):
    // estimate equals the exact distinct count
    val theta = SketchCodec.decodeTheta(row.getAs[Array[Byte]]("theta_convs"))
    val exactConvs = inWindow.select(col("conv_id")).distinct().count()
    assert(!theta.isEstimation && theta.estimate === exactConvs.toDouble,
      s"streaming theta ${theta.estimate} != exact $exactConvs")
  }

  test("foreachBatch incremental union == one-shot batch build (bit-identical)") {
    val dir = stageStreamInput()
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "2") // force multiple micro-batches
      .parquet(dir)
    val batchDf = spark.read.parquet(dir)
    val n = batchDf.count()
    val cap = math.max(n, 1000L)
    val state = new StreamingSketch.IncrementalState
    val q = StreamingSketch.incrementalBloom(stream, cap, state).start()
    try q.awaitTermination(120000) finally if (q.isActive) q.stop()

    val streamed = SketchCodec.decodeBloom(state.get.get)
    val bulk = SketchCodec.decodeBloom(
      batchDf.agg(bloomAggNative(cap, 0.001)(col("conv_id"), col("turn_idx")))
        .head.getAs[Array[Byte]](0))
    assert(streamed === bulk,
      "incremental micro-batch union != bulk batch build (associativity broken)")
  }

  test("incremental state refuses a damaged first blob at merge and stays usable") {
    val a = KMBloomSketch(1000L, 0.01)
    val b = KMBloomSketch(1000L, 0.01)
    (0 until 50).foreach(i => a.insert(s"a$i".getBytes))
    (0 until 50).foreach(i => b.insert(s"b$i".getBytes))
    val (blobA, blobB) = (SketchCodec.encodeBloom(a), SketchCodec.encodeBloom(b))
    val state = new StreamingSketch.IncrementalState
    intercept[IllegalArgumentException](state.merge(blobA.take(blobA.length - 3)))
    assert(state.get.isEmpty, "a refused blob must not become the state")
    state.merge(blobA)
    assert(state.get.get.sameElements(blobA))
    // the state holds copies: changing the caller's or a returned array
    // does not change it
    blobA(blobA.length - 1) = (blobA(blobA.length - 1) ^ 1).toByte
    state.get.get(8) = 99
    state.merge(blobB)
    intercept[IllegalArgumentException](state.merge(blobB.take(20)))
    assert(state.get.get.sameElements(SketchCodec.encodeBloom(a.unionInPlace(b))))
  }

  test("flatMapGroupsWithState per-conversation dedup survives replays across micro-batches") {
    import spark.implicits._
    import StreamingSketch.{ConvTurn, perConversationDedup}
    val dir = Files.createTempDirectory("graft_stream_state").toString + "/in"
    // file 1: A turns 0-9, B turns 0-4; file 2 REPLAYS A 5-9 + new A 10-14,
    // and replays ALL of B — cross-batch dedup is the thing under test
    val batch1 = (0 until 10).map(i => ConvTurn("A", i)) ++ (0 until 5).map(i => ConvTurn("B", i))
    val batch2 = (5 until 15).map(i => ConvTurn("A", i)) ++ (0 until 5).map(i => ConvTurn("B", i))
    batch1.toDS().coalesce(1).write.parquet(dir)
    batch2.toDS().coalesce(1).write.mode("append").parquet(dir)

    val stream = spark.readStream.schema(implicitly[org.apache.spark.sql.Encoder[ConvTurn]].schema)
      .option("maxFilesPerTrigger", "1").parquet(dir).as[ConvTurn]
    val q = perConversationDedup(stream)
      .writeStream.format("memory").queryName("conv_dedup")
      .outputMode("update").start()
    try q.processAllAvailable() finally q.stop()

    val updates = spark.sql("SELECT * FROM conv_dedup").as[StreamingSketch.ConvDedupUpdate].collect()
    // each conversation was touched by two micro-batches → two update rows
    assert(updates.count(_.conv_id == "A") === 2, s"expected 2 micro-batches for A: ${updates.toSeq}")
    assert(updates.count(_.conv_id == "B") === 2)
    // replays never double-count (Bloom zero FN), order-independent checks:
    assert(updates.filter(_.conv_id == "A").map(_.new_turns).sum === 15L)
    assert(updates.filter(_.conv_id == "B").map(_.new_turns).sum === 5L)
    assert(updates.filter(_.conv_id == "A").map(_.total_distinct_turns).max === 15L)
    assert(updates.filter(_.conv_id == "B").map(_.total_distinct_turns).max === 5L)
    // one of B's two batches must have contributed zero new turns
    assert(updates.filter(_.conv_id == "B").map(_.new_turns).min === 0L)
    // nowhere near the default capacity
    assert(updates.forall(!_.saturated))
  }

  test("per-conversation dedup flags saturation past Bloom capacity") {
    import spark.implicits._
    import StreamingSketch.{ConvTurn, perConversationDedup}
    val dir = Files.createTempDirectory("graft_stream_sat").toString + "/in"
    (0 until 50).map(i => ConvTurn("big", i)).toDS().coalesce(1).write.parquet(dir)
    val stream = spark.readStream.schema(implicitly[org.apache.spark.sql.Encoder[ConvTurn]].schema)
      .parquet(dir).as[ConvTurn]
    val q = perConversationDedup(stream, capacity = 10L)
      .writeStream.format("memory").queryName("conv_dedup_sat")
      .outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    val updates = spark.sql("SELECT * FROM conv_dedup_sat")
      .as[StreamingSketch.ConvDedupUpdate].collect()
    assert(updates.exists(_.saturated), s"saturation not flagged: ${updates.toSeq}")
  }
}
