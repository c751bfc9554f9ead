package graft.tools
import org.apache.spark.sql.SparkSession

/** Run any SparkEntry query over all three testdata scale factors and
  * print its single result row + wall time — the shared debug harness
  * (replaces the per-query CheckQ29/CheckQ31/ProfileQ30 copies).
  * Usage: runMain graft.tools.CheckQuery q31_theta_setops [q30_... ...] */
object CheckQuery {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: CheckQuery <queryName> [more...]")
    // sized like graft.Verify; scratch goes where Spark puts it by
    // default: SPARK_LOCAL_DIRS if set, else java.io.tmpdir
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (q <- args; sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val t0 = System.nanoTime()
      val rows = graft.SparkEntry.queries(q)(spark, s"/root/testdata/$sf").collect()
      val shown =
        if (rows.length == 1) rows.head.toString
        else if (rows.length <= 12) rows.mkString(s"${rows.length} rows\n  ", "\n  ", "")
        else s"${rows.length} rows"
      println(f"CHECK $q $sf $shown secs=${(System.nanoTime() - t0) / 1e9}%.2f")
    }
    spark.stop()
  }
}
