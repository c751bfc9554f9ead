package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Supplementary plan evidence for q58's r07 sharded counting-filter
  * build (OPTIMIZATION_r07.md "q58 — sharded two-stage counting-filter
  * build"): the query's RETURNED frame is a LocalTableScan of gate
  * booleans, so `PlanDump` cannot show the substantive change. This
  * dumps `explain("formatted")` of the INTERNAL aggregation both ways —
  * the pre-r07 global `signed.agg(cbfAgg)` (one dense counting buffer
  * per input partition, single final reducer) and the sharded
  * `shardedSketchBlobs` shape (a narrow coalesce to at most 16 tasks,
  * no row shuffle, one partial buffer per task, then one exchange into
  * the final merge) — over the SAME `signed` relation q58 builds
  * (SparkEntry.q58Signed).
  * Usage: runMain graft.tools.Q58InternalPlanDump <sfDir> [tag]
  */
object Q58InternalPlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val tag = if (args.length > 1) args(1) else "r07"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", "/dev/shm/graft-spark")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.spark.{functions => gf}
    val P = 0.001
    val t = graft.spark.Transcripts.load(spark, sfDir)
    val n = t.count()
    val cap = math.max(n, 1000L)
    val signed = graft.SparkEntry.q58Signed(t)
    val globalAgg = signed.agg(gf.cbfAgg(cap, P)(col("k"), col("m")))
    val sharded = graft.spark.catalyst.shardedSketchBlobs(signed, 16)(
      "cbf" -> gf.cbfAgg(cap, P)(col("k"), col("m")))
    val dir = new java.io.File(s"plans/$tag"); dir.mkdirs()
    def dump(name: String, df: org.apache.spark.sql.DataFrame, note: String): Unit = {
      val out = new java.io.PrintWriter(s"plans/$tag/$name")
      try {
        out.println(s"# q58 INTERNAL counting-filter build @ $sfDir — $note")
        out.println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      } finally out.close()
      println(s"PLAN -> plans/$tag/$name")
    }
    dump("q58_cbf_retraction_internal_before.txt", globalAgg,
      "pre-r07 shape: global agg(cbfAgg) — dense partial buffer per input partition, one final reducer")
    dump("q58_cbf_retraction_internal_after.txt", sharded,
      "sharded shape: shardedSketchBlobs — coalesce to at most 16 tasks, no row shuffle, one partial buffer per task, one exchange into the final merge")
    spark.stop()
  }
}
