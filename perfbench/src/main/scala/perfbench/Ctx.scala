package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The run's Spark session, scratch directory and tracer. Every directory
  * Spark writes to (block manager, shuffle, warehouse, checkpoints, inputs)
  * is under `scratch`, which the run deletes when it ends. */
final class Ctx(val cores: Int, val scratch: Path, val tracer: Tracer) {
  private var session: SparkSession = _

  def spark: SparkSession = session
  def sc: SparkContext = session.sparkContext
  def dir(name: String): String = scratch.resolve(name).toString

  def start(threads: Int): SparkSession = {
    session = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("graft-perfbench")
      // one shuffle partition per core, coalesced further by AQE
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", dir("spark-local"))
      .config("spark.sql.warehouse.dir", dir("warehouse"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // keep Spark's own status store small, so retained heap is the
      // library's and the benchmark's, not a history of finished queries
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.streaming.ui.retainedQueries", "10")
      .getOrCreate()
    session.sparkContext.setLogLevel("ERROR")
    session
  }

  def stop(): Unit = if (session != null) {
    session.stop()
    session = null
  }

  def span[A](module: String, name: String)(body: => A): A = tracer.span(sc, module, name)(body)

  def read(dir: String): DataFrame = session.read.parquet(dir)
}

object Dirs {
  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.deleteIfExists(x))
    finally s.close()
  }
  def delete(p: String): Unit = delete(Paths.get(p))
}

/** Materialises generated inputs beside a fingerprint sidecar. */
object Inputs {
  val Sidecar = "_perfbench_fingerprint.json"

  /** A materialised input may be reused only when its sidecar records the
    * expected fingerprint and the table read back still has the
    * fingerprint's row count and content hash. */
  def reusable(sidecar: Option[String], fp: Fingerprint, readBack: => (Long, Long)): Boolean =
    sidecar.contains(fp.json) && readBack == ((fp.rows, fp.contentHash))

  /** Reuses `dir` when [[reusable]], else rewrites it with `write` and
    * checks the row count of what was written. Returns true on reuse. */
  def materialize(spark: SparkSession, dir: String, fp: Fingerprint,
      contentHash: DataFrame => Long)(write: String => Unit): Boolean = {
    val side = Paths.get(dir, Sidecar)
    val recorded =
      if (Files.exists(side)) Some(new String(Files.readAllBytes(side), "UTF-8")) else None
    def readBack = {
      val df = spark.read.parquet(dir)
      (df.count(), contentHash(df))
    }
    if (reusable(recorded, fp, readBack)) true
    else {
      Dirs.delete(dir)
      write(dir)
      val n = spark.read.parquet(dir).count()
      require(n == fp.rows, s"materialised $n rows in $dir, expected ${fp.rows}")
      Files.write(side, fp.json.getBytes("UTF-8"))
      false
    }
  }
}
