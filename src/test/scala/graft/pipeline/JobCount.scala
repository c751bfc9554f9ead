package graft.pipeline

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The number of Spark jobs `body` starts, counted by a listener on the
  * job group `body` runs in (jobs that AQE or a broadcast starts from
  * another thread inherit it). A fence job in its own group marks the
  * end of the bus events of everything run before it: the bus delivers
  * in order. */
object JobCount {
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobcount-${java.util.UUID.randomUUID()}"
    val fence = s"$group-fence"
    val groups = scala.collection.mutable.ArrayBuffer.empty[String]
    def seen(g: String): Int = groups.synchronized(groups.count(_ == g))
    val log = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = groups.synchronized {
        groups += Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      }
    }
    sc.addSparkListener(log)
    try {
      sc.setJobGroup(group, group)
      val out = body
      sc.setJobGroup(fence, fence)
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.currentTimeMillis() + 60000L
      while (seen(fence) == 0 && System.currentTimeMillis() < deadline) Thread.sleep(10)
      require(seen(fence) > 0, "listener bus did not drain")
      (out, seen(group))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(log)
    }
  }
}
