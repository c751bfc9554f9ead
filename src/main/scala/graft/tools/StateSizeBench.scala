package graft.tools

import graft.core.BloomConfig
import graft.spark.Transcripts
import graft.streaming.StreamingSketch
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Byte sizes of the windowed streaming state's sketch columns — the
  * evidence for the sparse Bloom and the compact HLL, t-digest and
  * weighted-sample layouts. The state schema
  * (StreamingSketch.windowedSketches) carries one capacity-100k
  * p=0.001 Bloom filter per (window, tool) group; dense, that is
  * ~176 KiB per state row REGARDLESS of fill, shipped through every
  * micro-batch commit and state-store read. The sparse layout sizes
  * each blob by its SET BITS instead. Prints one JSON line with the
  * per-column byte totals, the dense-equivalent Bloom total, and the
  * ratio.
  *
  *   sbt -batch "runMain graft.tools.StateSizeBench [sfDir]"
  */
object StateSizeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    // sized like graft.tools.CheckQuery: SPARK_GRAFT_CPUS, else every core
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .appName("graft-state-size-bench")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val capacity = 100000L
    // the batch twin of the streaming query — identical agg schema and
    // state content (q33 gates that equivalence bit-level), so its blob
    // sizes ARE the state-row sizes without standing up a stream
    val win = StreamingSketch.windowedSketches(
      Transcripts.load(spark, sfDir), capacity = capacity)
    val mBits = BloomConfig(capacity, 0.001).totalBits
    val bloomDense = 6L + 3 + 16 + 4 + 8 + 8L * ((mBits + 63) / 64)
    val r = win.agg(
      count(lit(1)).as("rows"),
      sum(length(col("bloom_turns"))).as("bloom"),
      sum(length(col("hll_convs"))).as("hll"),
      sum(length(col("theta_convs"))).as("theta"),
      sum(length(col("tdigest_turns"))).as("tdigest"),
      sum(length(col("kll_turns"))).as("kll"),
      sum(length(col("mg_convs"))).as("mg"),
      sum(length(col("wbk_convs"))).as("wbk")).head
    val rows = r.getLong(0)
    val bloom = r.getLong(1)
    val denseTotal = rows * bloomDense
    println(f"""{"bench":"windowed_state_size","sf":"$sfDir","state_rows":$rows,""" +
      f""""bloom_capacity":$capacity,"bloom_bytes":$bloom,""" +
      f""""bloom_dense_equiv_bytes":$denseTotal,""" +
      f""""bloom_shrink":${denseTotal.toDouble / bloom}%.1f,""" +
      f""""bloom_bytes_per_row":${bloom / rows},""" +
      f""""hll_bytes":${r.getLong(2)},"theta_bytes":${r.getLong(3)},""" +
      f""""tdigest_bytes":${r.getLong(4)},"kll_bytes":${r.getLong(5)},""" +
      f""""mg_bytes":${r.getLong(6)},"wbk_bytes":${r.getLong(7)}}""")
    spark.stop()
  }
}
