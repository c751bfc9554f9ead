package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Instrumented 8→32 ladder decomposition (VERDICT r06 "attack or
  * formally retire the 8→32 gap"; guide §1.1/§2.1/§7.1): run the EXACT
  * ladder workload (Bench.sketchBuild's 3-sketch 256-shard build over
  * the expanded ~30M-turn input, AQE off, same session confs) at
  * local[8] and local[32] with a task-metrics listener, and decompose
  * where the extra 24 threads go:
  *   - executorRunTime   — total occupied task time (wall × effective slots)
  *   - executorCpuTime   — of which actual on-CPU nanoseconds
  *   - jvmGcTime         — of which stop-the-world GC
  *   - shuffleFetchWait  — of which blocked on shuffle fetches
  *   - shuffleWriteTime  — of which blocked writing shuffle files
  * plus the same raw-arithmetic burn Bench interleaves (the hw ceiling).
  * If runTime/cpuTime diverges at 32 with flat GC and flat fetch wait,
  * the loss is CPU-starvation/SMT saturation (the VM sustains ~18
  * effective cores), not a shuffle or memory-config problem.
  *
  * Reuses /tmp/graft_bench_input.parquet when a prior Bench run left it
  * behind (same 64-file layout); materializes it identically otherwise.
  * Usage: runMain graft.tools.ScalingProbe [sfDir] [levels csv, default 8,32]
  */
object ScalingProbe {

  private val NumShards = 256

  private final class StageM {
    var tasks = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var fetchWaitMs = 0L; var shufWriteNs = 0L
    var shufReadB = 0L; var shufWriteB = 0L; var spillB = 0L
  }

  private final class MetricsAgg extends SparkListener {
    val byStage = scala.collection.mutable.Map.empty[Int, StageM]
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) synchronized {
        val s = byStage.getOrElseUpdate(t.stageId, new StageM)
        s.tasks += 1
        s.runMs += m.executorRunTime; s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.shufWriteNs += m.shuffleWriteMetrics.writeTime
        s.shufReadB += m.shuffleReadMetrics.totalBytesRead
        s.shufWriteB += m.shuffleWriteMetrics.bytesWritten
        s.spillB += m.diskBytesSpilled
      }
    }
    def total: StageM = {
      val t = new StageM
      byStage.values.foreach { s =>
        t.tasks += s.tasks; t.runMs += s.runMs; t.cpuNs += s.cpuNs
        t.gcMs += s.gcMs; t.fetchWaitMs += s.fetchWaitMs
        t.shufWriteNs += s.shufWriteNs; t.shufReadB += s.shufReadB
        t.shufWriteB += s.shufWriteB; t.spillB += s.spillB
      }
      t
    }
  }

  private def session(cpus: Int): SparkSession = {
    // PROBE_SHUFFLE_PARTITIONS: control experiment — hold the reduce
    // width fixed while varying cores, to separate shuffle-block-count
    // effects (M×R growth, guide §2.2) from core-scaling effects.
    // Default mirrors Bench's ladder session (partitions = cores).
    val parts = sys.env.getOrElse("PROBE_SHUFFLE_PARTITIONS", cpus.toString)
    // PROBE_FILE_BUFFER: second control — shuffle write-buffer size
    // (default 32k). At parts=cores=32 each map task streams 32 sub-MB
    // blocks; a bigger buffer cuts flush syscalls per block.
    val fileBuf = sys.env.getOrElse("PROBE_FILE_BUFFER", "32k")
    val s = SparkSession.builder().master(s"local[$cpus]")
      .appName(s"graft-scalingprobe-$cpus")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.shuffle.file.buffer", fileBuf)
      .config("spark.sql.adaptive.enabled", "false") // ladder shape
      .config("spark.local.dir", "/dev/shm/graft-spark")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Bench.sketchBuild's exact job (kept in sync by hand — Bench.scala
    * is measurement-frozen and cannot export it). */
  private def sketchBuild(spark: SparkSession, inputPath: String, capacity: Long): Double = {
    import graft.spark.catalyst._
    val capPerShard = math.max(1000L, capacity / NumShards)
    val t = spark.read.parquet(inputPath)
      .select(col("conv_id"), col("turn_idx"), col("tool"),
        pmod(xxhash64(col("conv_id")), lit(NumShards)).as("shard"))
      .repartition(col("shard"))
    val t0 = System.nanoTime()
    t.groupBy(col("shard")).agg(
        bloomAggNative(capPerShard, 0.001)(col("conv_id"), col("turn_idx")).as("bloom"),
        hllAggNative(col("conv_id")).as("hll"),
        cmsAggNative(0.001, 0.01)(col("tool")).as("cms"))
      .select(sum(length(col("bloom"))) + sum(length(col("hll"))) + sum(length(col("cms"))))
      .collect()
    (System.nanoTime() - t0) / 1e9
  }

  private def burnSecs(n: Int): Double = {
    val t0 = System.nanoTime()
    val threads = (0 until n).map { _ =>
      new Thread(() => {
        var x = 0L; var j = 0L
        while (j < 1500000000L) { x += j * j; j += 1 }
        if (x == 42L) print("")
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val levels = (if (args.length > 1) args(1) else "8,32")
      .split(",").map(_.trim.toInt).toSeq
    val benchInput = "/tmp/graft_bench_input.parquet"

    // materialize the expanded input exactly as Bench phase 2 does, if absent
    val turns: Long = {
      val s = session(32)
      if (!new java.io.File(benchInput, "_SUCCESS").exists()) {
        val base = graft.spark.Transcripts.load(s, sfDir)
        val baseTurns = base.count()
        val expand = math.max(1, math.ceil(30000000.0 / baseTurns).toInt)
        base.crossJoin(s.range(0, expand).toDF("rep"))
          .withColumn("conv_id", concat(col("conv_id"), lit("r"), col("rep")))
          .drop("rep").repartition(64)
          .write.mode("overwrite").parquet(benchInput)
      }
      val n = s.read.parquet(benchInput).count()
      s.stop()
      n
    }
    println(f"PROBE input=$benchInput turns=$turns%d levels=${levels.mkString(",")}")

    val rounds = sys.env.getOrElse("PROBE_ROUNDS", "2").toInt
    for (cpus <- levels; r <- 1 to rounds) {
      val s = session(cpus)
      if (r == 1) sketchBuild(s, benchInput, turns) // warm-up (JIT, JVM-wide)
      val m = new MetricsAgg
      s.sparkContext.addSparkListener(m)
      val wall = sketchBuild(s, benchInput, turns)
      // stop() drains the listener bus, straggler task-end events
      // included, before it returns: read the totals only after it
      s.stop()
      val burn = burnSecs(cpus)
      def line(tag: String, sm: StageM): String = {
        val runS = sm.runMs / 1e3; val cpuS = sm.cpuNs / 1e9
        f"$tag tasks=${sm.tasks}%d run_s=$runS%.1f cpu_s=$cpuS%.1f " +
          f"gc_s=${sm.gcMs / 1e3}%.1f fetch_wait_s=${sm.fetchWaitMs / 1e3}%.2f " +
          f"shuf_write_s=${sm.shufWriteNs / 1e9}%.2f " +
          f"shuf_read_mb=${sm.shufReadB / 1e6}%.0f shuf_write_mb=${sm.shufWriteB / 1e6}%.0f " +
          f"spill_mb=${sm.spillB / 1e6}%.0f cpu_over_run=${cpuS / math.max(runS, 1e-9)}%.2f"
      }
      val tot = m.total
      println(f"LEVEL $cpus%d round $r%d wall=$wall%.3f " +
        f"turns_per_sec=${turns / wall}%.0f " +
        f"occupancy=${tot.runMs / 1e3 / (wall * cpus)}%.2f burn_s=$burn%.2f " +
        line("TOTAL", tot))
      // per-stage: the map side (shuffle write > 0) vs the reduce side
      m.byStage.toSeq.sortBy(_._1).foreach { case (sid, sm) =>
        println("  " + line(f"STAGE $sid%d", sm))
      }
    }
  }
}
