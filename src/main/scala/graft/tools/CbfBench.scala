package graft.tools

import graft.spark.{functions => gf, Transcripts}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** What deletion support costs: the counting filter's two-byte-arrays
  * buffer and per-cell saturating merge (codec-encoded buffers) against the
  * plain bit filter over the SAME byte keys, plus the row-hash bloom
  * aggregate as the multi-column reference point. Four global builds
  * over the same expanded transcript keys:
  *   bloom_native  — bloomAggNative (row-hash keys)
  *   bloom_bytes   — gf.bloomAgg     (the same byte keys as cbfAgg)
  *   cbf_insert    — gf.cbfAgg, +1 rows only
  *   cbf_retract   — gf.cbfAgg, the q58 shape (all rows +1, the ~20%
  *                   error-turn rows again at −1: 1.2× the input rows)
  * plus the collapse gate re-asserted at bench scale: cbf blob → plain
  * bloom blob, byte-equal to a direct build over the survivors.
  *
  * Usage: SPARK_GRAFT_CBF_EXPAND=10 sbt -batch "runMain graft.tools.CbfBench"
  */
object CbfBench {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.local.dir", "/dev/shm/graft-spark")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val expand = sys.env.getOrElse("SPARK_GRAFT_CBF_EXPAND", "10").toInt

    val t = Transcripts.load(spark, sfDir)
      .crossJoin(spark.range(0, expand).toDF("rep"))
      .withColumn("conv_id", concat(col("conv_id"), lit("r"), col("rep")))
      .select(col("conv_id"), col("turn_idx"), col("tool"))
      .localCheckpoint(true)
    val n = t.count()
    val cap = math.max(n, 1000L)
    val P = 0.001
    def key = gf.sketchKey(col("conv_id"), col("turn_idx"))
    val bad = col("tool") === "error"
    val signed = t.select(key.as("k"), lit(1L).as("m"))
      .unionByName(t.filter(bad).select(key.as("k"), lit(-1L).as("m")))

    def time(label: String, rows: Long)(job: => Array[Byte]): Array[Byte] = {
      job // warm-up
      var blob: Array[Byte] = null
      val s = (1 to 2).map { _ =>
        val t0 = System.nanoTime(); blob = job; (System.nanoTime() - t0) / 1e9
      }.min
      println(f"CBFBENCH $label%-13s ${s}%8.2f s  ${rows / s / 1e6}%6.2f M rows/s  blob=${blob.length}%d B")
      blob
    }

    import graft.spark.catalyst._
    time("bloom_native", n) {
      t.agg(bloomAggNative(cap, P)(col("conv_id"), col("turn_idx")).as("sk"))
        .head.getAs[Array[Byte]]("sk")
    }
    val direct = time("bloom_bytes", n) {
      t.filter(!bad).agg(gf.bloomAgg(cap, P)(key).as("sk"))
        .head.getAs[Array[Byte]]("sk")
    }
    time("cbf_insert", n) {
      t.agg(gf.cbfAgg(cap, P)(key).as("sk")).head.getAs[Array[Byte]]("sk")
    }
    val nSigned = signed.count()
    val cbf = time("cbf_retract", nSigned) {
      signed.agg(gf.cbfAgg(cap, P)(col("k"), col("m")).as("sk"))
        .head.getAs[Array[Byte]]("sk")
    }
    val collapsed = graft.core.SketchCodec.encodeBloom(
      graft.core.SketchCodec.decodeCountingBloom(cbf).collapse())
    println(s"CBFBENCH collapse_eq_direct=" +
      java.util.Arrays.equals(collapsed, direct) +
      s" n=$n signed_rows=$nSigned cap=$cap")
    spark.stop()
  }
}
