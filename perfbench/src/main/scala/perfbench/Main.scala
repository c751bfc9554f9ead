package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Benchmark driver: one workload per process, a closed loop with one
  * client (each op starts when the previous one has ended and been checked).
  *
  *   --workload build|stream_rollup|dedup  --seed N  --seconds S
  *   --trace 0|1  --scratch DIR  [--trace-out FILE]
  *
  * Prints one JSON line on stdout: `correct`, `attempted`, `failed` and the
  * end-to-end metrics (trace 0) or the per-layer metrics (trace 1). */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      scratch: Path, traceOut: Option[Path])

  def parse(argv: Array[String]): Args = {
    require(argv.length % 2 == 0, s"expected --flag value pairs, got ${argv.mkString(" ")}")
    val m = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    def need(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      },
      Paths.get(need("scratch")), m.get("trace-out").map(Paths.get(_)))
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try {
        val a = parse(argv)
        Workloads(a.workload) // fail before any set-up on an unknown name
        val line = try Runner.run(a) finally Dirs.delete(a.scratch)
        println(line)
        0
      } catch {
        case t: Throwable =>
          t.printStackTrace()
          1
      }
    System.out.flush()
    sys.exit(code)
  }
}

/** One timed op and its verdict. */
final case class OpRun(i: Int, secs: Double, traced: Boolean, check: Check, out: Option[AnyRef],
    startMs: Long, endMs: Long, gcSecs: Double)

object Runner {
  /** Set-up is repeated and its median reported, so one slow start does not set setup_s. */
  val SetupReps = 3

  def log(msg: String): Unit = System.err.println(
    f"[perfbench ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1fs] $msg")

  private def gcSecs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** Heap in use after full collections: what the run retains. */
  private def retainedHeapMb(): Double = {
    (1 to 3).foreach(_ => System.gc())
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  def run(a: Main.Args): String = {
    val wl = Workloads(a.workload)
    val ctx = new Ctx(Runtime.getRuntime.availableProcessors(), a.scratch, new Tracer)
    try if (a.trace) traced(wl, ctx, a) else untraced(wl, ctx, a)
    finally ctx.stop()
  }

  private def setUp(wl: Workload, ctx: Ctx, a: Main.Args, rep: Int): (Instance, Double) = {
    val t0 = System.nanoTime()
    ctx.start(ctx.cores)
    val inst = wl.setup(ctx, a.seed, ctx.dir(s"input-$rep"))
    (inst, (System.nanoTime() - t0) / 1e9)
  }

  private def runOp(ctx: Ctx, wl: Workload, inst: Instance, i: Int, traced: Boolean): OpRun = {
    ctx.tracer.active = traced
    ctx.tracer.op = i
    val g0 = gcSecs()
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out =
      try Right(ctx.span("bench", wl.name)(inst.op(ctx, i)))
      catch { case NonFatal(e) => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    val ms1 = System.currentTimeMillis()
    val gc = gcSecs() - g0
    val check = out match {
      case Right(o) =>
        try inst.check(ctx, o)
        catch { case NonFatal(e) => Check(ok = false, 0.0, s"check threw $e") }
      case Left(e) => Check(ok = false, 0.0, s"op threw $e")
    }
    ctx.tracer.active = false
    if (!check.ok) log(s"${wl.name} op $i FAILED: ${check.detail}")
    log(f"op $i $secs%.3f")
    OpRun(i, secs, traced, check, out.toOption, ms0, ms1, gc)
  }

  /** Runs ops until `seconds` have passed, after the untimed warm-up ops;
    * op i is traced when `traced(i)`. */
  private def loop(ctx: Ctx, wl: Workload, inst: Instance, seconds: Double,
      traced: Int => Boolean, before: Int => Unit = _ => (),
      after: OpRun => Unit = _ => ()): (Seq[OpRun], Seq[OpRun]) = {
    val warm = (0 until wl.warmupOps).map(i => runOp(ctx, wl, inst, i, traced = false))
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val ops = mutable.ArrayBuffer.empty[OpRun]
    var i = wl.warmupOps
    // no new op once it would likely end more than half an op past the deadline
    def worthStarting: Boolean = {
      val left = (deadline - System.nanoTime()) / 1e9
      left > 0 && (ops.isEmpty || left > Stats.median(ops.map(_.secs).toSeq) / 2)
    }
    while (worthStarting) {
      before(i)
      val r = runOp(ctx, wl, inst, i, traced(i))
      after(r)
      ops += r
      i += 1
    }
    (warm, ops.toSeq)
  }

  private def untraced(wl: Workload, ctx: Ctx, a: Main.Args): String = {
    var inst: Instance = null
    val setups = (0 until SetupReps).map { rep =>
      if (inst != null) {
        ctx.stop()
        Dirs.delete(ctx.dir(s"input-${rep - 1}"))
      }
      val (i, s) = setUp(wl, ctx, a, rep)
      inst = i
      log(f"${wl.name} set-up $rep: $s%.3f s")
      s
    }
    val (warm, ops) = loop(ctx, wl, inst, a.seconds, _ => false)
    val all = warm ++ ops
    val good = ops.filter(_.check.ok)
    val timed = (if (good.nonEmpty) good else ops).map(_.secs).sorted
    val sketchBytes = inst.sketchBytesPerItem(ctx, all.flatMap(_.out).last)
    val retained = retainedHeapMb()
    val failed = all.count(!_.check.ok)
    log(f"${wl.name}: ${ops.size} timed ops, $failed failed, op secs ${ops.map(o => f"${o.secs}%.3f").mkString(" ")}")
    Stats.resultJson(failed == 0, all.size.toLong, failed.toLong, Seq(
      ("setup_s", Stats.median(setups), "s"),
      ("items_per_s", Stats.median(timed.map(inst.items / _)), "1/s"),
      ("op_p50_s", Stats.quantile(timed, 0.5), "s"),
      ("sketch_bytes_per_item", sketchBytes, "B"),
      ("retained_heap_mb", retained, "MB")))
  }

  val PipelineSteps: Seq[String] = Seq("shingle", "exact_pairs", "lsh_candidates", "clusters")
  val StreamingMetrics: Seq[(String, String)] = Seq("batches" -> "count", "batch_ms_p50" -> "ms",
    "add_batch_ms_p50" -> "ms", "commit_ms_p50" -> "ms", "plan_ms_p50" -> "ms",
    "state_rows" -> "count", "state_rows_updated" -> "count", "state_mb" -> "MB")
  val PipelineCounts: Seq[(String, String)] = Seq("join_rows" -> "count", "exact_pairs" -> "count",
    "candidates" -> "count", "candidate_precision" -> "ratio", "candidate_recall" -> "ratio")
  val Modules: Seq[String] = Seq("core", "spark", "catalyst", "streaming", "pipeline")

  private def traced(wl: Workload, ctx: Ctx, a: Main.Args): String = {
    val (inst, _) = setUp(wl, ctx, a, 0)
    val listener = new StageListener
    val perOp = mutable.ArrayBuffer.empty[Map[String, Double]]
    var undrained = 0
    heapPools.foreach(_.resetPeakUsage())

    // after a traced op: wait for its listener events, detach the listener
    // and fold the op's per-layer record
    def record(r: OpRun): Unit = if (r.traced) {
      val spans = ctx.tracer.spans.filter(_.op == r.i)
      val groups = spans.map(_.group).toSet ++ ctx.tracer.adopted(r.i)
      if (!listener.awaitDrained(ctx.sc, groups)) undrained += 1
      ctx.sc.removeSparkListener(listener)
      val st = listener.stats(groups, r.startMs, r.endMs)
      val wallMs = (r.endMs - r.startMs).toDouble
      val self = ctx.tracer.moduleSelfSecs(r.i)
      val steps = PipelineSteps.flatMap { step =>
        spans.find(s => s.module == "pipeline" && s.name == step).toSeq.flatMap { s =>
          val ss = listener.stats(Set(s.group), s.startMs, s.endMs)
          Seq(s"pipeline.${step}_s" -> s.secs, s"pipeline.${step}_run_s" -> ss.runS,
            s"pipeline.${step}_shuffle_write_mb" -> ss.shuffleWriteMb)
        }
      }
      perOp += (Map(
        "stage.jobs" -> st.jobs.toDouble, "stage.stages" -> st.stages.toDouble,
        "stage.tasks" -> st.tasks.toDouble, "stage.run_s" -> st.runS, "stage.cpu_s" -> st.cpuS,
        "stage.gc_s" -> st.gcS, "stage.deser_s" -> st.deserS,
        "stage.shuffle_write_mb" -> st.shuffleWriteMb, "stage.shuffle_write_s" -> st.shuffleWriteS,
        "stage.shuffle_read_mb" -> st.shuffleReadMb, "stage.fetch_wait_s" -> st.fetchWaitS,
        "stage.spill_mb" -> st.spillMb, "stage.peak_exec_mem_mb" -> st.peakExecMemMb,
        "stage.task_max_over_median" -> st.taskMaxOverMedian,
        "stage.driver_s" -> math.max(0.0, wallMs - st.jobUnionMs) / 1e3,
        "stage.busy_frac" -> st.runS / (wallMs / 1e3 * ctx.cores),
        "stage.unattributed_jobs" -> st.unattributedJobs.toDouble,
        "jvm.gc_s" -> r.gcSecs) ++
        Modules.map(m => s"span.${m}_s" -> self.getOrElse(m, 0.0)) ++
        steps ++ r.out.map(o => inst.layer(ctx, o)).getOrElse(Map.empty))
    }
    // every second op is traced; the ops between them are the untraced
    // twins the tracing overhead is measured against
    val (warm, ops) = loop(ctx, wl, inst, a.seconds, _ % 2 == 0,
      before = i => if (i % 2 == 0) ctx.sc.addSparkListener(listener), after = record)
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
    val tracedOps = ops.filter(_.traced)
    val plainOps = Some(ops.filterNot(_.traced)).filter(_.nonEmpty).getOrElse(ops)
    val overhead = (Stats.median(tracedOps.map(_.secs)) - Stats.median(plainOps.map(_.secs))) /
      Stats.median(plainOps.map(_.secs))
    val ipsN = Stats.median(plainOps.map(inst.items / _.secs))
    log(s"${wl.name}: ${ops.size} ops in the traced loop, $undrained not drained")

    val core = Kernels.run(inst.kernelKeys)
    val surfaces = Surfaces.run(ctx, inst.keyTable(ctx))
    // scaling: the same op on one core
    ctx.stop()
    ctx.start(1)
    val single = runOp(ctx, wl, inst, ops.size + 1, traced = false)
    val scalingEff = ipsN / (ctx.cores * inst.items / single.secs)
    a.traceOut.foreach(ctx.tracer.write)

    val all = (warm ++ ops) :+ single
    val failed = all.count(!_.check.ok)
    def med(name: String): Double = Stats.median(perOp.map(_.getOrElse(name, 0.0)).toSeq)
    val stage = Seq("jobs" -> "count", "stages" -> "count", "tasks" -> "count", "run_s" -> "s",
      "cpu_s" -> "s", "gc_s" -> "s", "deser_s" -> "s", "shuffle_write_mb" -> "MB",
      "shuffle_write_s" -> "s", "shuffle_read_mb" -> "MB", "fetch_wait_s" -> "s",
      "spill_mb" -> "MB", "peak_exec_mem_mb" -> "MB", "task_max_over_median" -> "ratio",
      "driver_s" -> "s", "busy_frac" -> "ratio").map { case (n, u) => (s"stage.$n", med(s"stage.$n"), u) }
    val pipeline = PipelineSteps.flatMap(s => Seq(s"${s}_s" -> "s", s"${s}_run_s" -> "s",
      s"${s}_shuffle_write_mb" -> "MB")) ++ PipelineCounts
    Stats.resultJson(failed == 0, all.size.toLong, failed.toLong,
      core ++ surfaces ++ stage ++ Seq(
        ("stage.unattributed_jobs", perOp.map(_.getOrElse("stage.unattributed_jobs", 0.0)).sum, "count"),
        ("stage.scaling_eff", scalingEff, "ratio")) ++
        StreamingMetrics.map { case (n, u) => (s"streaming.$n", med(s"streaming.$n"), u) } ++
        pipeline.map { case (n, u) => (s"pipeline.$n", med(s"pipeline.$n"), u) } ++
        Modules.map(m => (s"span.${m}_s", med(s"span.${m}_s"), "s")) ++ Seq(
        ("jvm.gc_s", med("jvm.gc_s"), "s"),
        ("jvm.heap_peak_mb", heapPeakMb, "MB"),
        ("trace.overhead_frac", overhead, "ratio"),
        ("check.error_over_bound", all.map(_.check.errorOverBound).max, "ratio"),
        ("check.failed_op_frac", failed.toDouble / all.size, "ratio")))
  }
}
