package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a call from the benchmark into a library module. Spans of one
  * op share `op`; `parent` is the enclosing span (-1 for an op's root). */
final case class Span(id: Int, parent: Int, op: Int, module: String, name: String,
    group: String, startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def secs: Double = (endNs - startNs) / 1e9
}

/** Records spans in memory and tags each span's Spark jobs with a job group
  * of its own, so the stage listener can attribute jobs to spans. While not
  * active it only runs the body. */
final class Tracer {
  private val JobGroupKey = "spark.jobGroup.id"
  private val JobDescKey = "spark.job.description"
  var active: Boolean = false
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 0
  var op: Int = -1

  private val adoptedGroups = mutable.Map.empty[Int, Set[String]].withDefaultValue(Set.empty)

  def spans: Seq[Span] = done.toSeq

  /** Counts a job group that Spark sets on a thread of its own (a streaming
    * query's run id) as the current op's. */
  def adopt(group: String): Unit = if (active) adoptedGroups(op) += group
  def adopted(op: Int): Set[String] = adoptedGroups(op)

  def span[A](sc: SparkContext, module: String, name: String)(body: => A): A =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      val group = s"perfbench-op$op-span$id"
      val prevGroup = Option(sc.getLocalProperty(JobGroupKey))
      val prevDesc = sc.getLocalProperty(JobDescKey)
      sc.setJobGroup(group, s"$module.$name", interruptOnCancel = false)
      val open = Span(id, stack.headOption.map(_.id).getOrElse(-1), op, module, name, group,
        System.nanoTime(), 0L, System.currentTimeMillis(), 0L)
      stack = open :: stack
      try body
      finally {
        stack = stack.tail
        done += open.copy(endNs = System.nanoTime(), endMs = System.currentTimeMillis())
        prevGroup match {
          case Some(g) => sc.setJobGroup(g, prevDesc, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Self time per module for one op: each span's duration minus the part
    * its child spans cover. */
  def moduleSelfSecs(op: Int): Map[String, Double] = {
    val ss = done.filter(_.op == op)
    val childSecs = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.secs).sum }
    ss.groupBy(_.module).map { case (m, xs) =>
      m -> xs.map(s => s.secs - childSecs.getOrElse(s.id, 0.0)).sum
    }
  }

  /** Writes every span as one JSON line; called once, when the run ends. */
  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = done.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"module":"${s.module}",""" +
        s""""name":"${s.name}","group":"${s.group}","start_ms":${s.startMs},""" +
        s""""end_ms":${s.endMs},"secs":${s.secs}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Stage-layer record of the jobs of a set of job groups. */
final case class StageStats(jobs: Int, stages: Int, tasks: Int, runS: Double, cpuS: Double,
    gcS: Double, deserS: Double, shuffleWriteMb: Double, shuffleWriteS: Double,
    shuffleReadMb: Double, fetchWaitS: Double, spillMb: Double, peakExecMemMb: Double,
    taskMaxOverMedian: Double, jobUnionMs: Long, unattributedJobs: Int)

/** Folds job, stage and task events per job group. All state is guarded by
  * the listener's monitor: events arrive on the listener-bus thread. */
final class StageListener extends SparkListener {
  private final case class Job(group: String, startMs: Long, stages: Seq[Int], var endMs: Long)
  private final case class Task(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long, deserMs: Long,
      swBytes: Long, swNs: Long, srBytes: Long, fetchMs: Long, spillBytes: Long, peakMem: Long)

  private val JobGroupKey = "spark.jobGroup.id"
  private val jobs = mutable.Map.empty[Int, Job]
  private val submitted = mutable.Set.empty[Int]
  private val completed = mutable.Set.empty[Int]
  private val started = mutable.Map.empty[Int, Int].withDefaultValue(0)
  private val ended = mutable.Map.empty[Int, Int].withDefaultValue(0)
  private val tasks = mutable.ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty(JobGroupKey)).orNull
    jobs(e.jobId) = Job(group, e.time, e.stageIds, -1L)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    submitted += e.stageInfo.stageId
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    completed += e.stageInfo.stageId
  }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    started(e.stageId) += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    ended(e.stageId) += 1
    val m = e.taskMetrics
    if (m != null) {
      val sr = m.shuffleReadMetrics
      tasks += Task(e.stageId, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.executorDeserializeTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleWriteMetrics.writeTime, sr.remoteBytesRead + sr.localBytesRead,
        sr.fetchWaitTime, m.diskBytesSpilled, m.peakExecutionMemory)
    }
  }

  private def jobsOf(groups: Set[String]): Seq[Job] = jobs.values.filter(j => groups(j.group)).toSeq

  /** True once the end event of every job of `groups`, and of every task
    * those jobs' stages started, has arrived. */
  def drained(groups: Set[String]): Boolean = synchronized {
    val js = jobsOf(groups)
    js.forall(_.endMs >= 0) && js.flatMap(_.stages).filter(submitted).forall { s =>
      completed(s) && ended(s) >= started(s)
    }
  }

  /** Waits, without a fixed sleep, until [[drained]] holds: each round first
    * drains the listener bus of every event posted so far (so job starts
    * the op posted are seen), then re-checks. */
  def awaitDrained(sc: SparkContext, groups: Set[String], timeoutMs: Long = 60000L): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var ok = false
    while (!ok && System.currentTimeMillis() < deadline) {
      try org.apache.spark.PerfbenchBus.waitUntilEmpty(sc, math.max(1L, deadline - System.currentTimeMillis()))
      catch { case _: java.util.concurrent.TimeoutException => () }
      ok = drained(groups)
      if (!ok) Thread.`yield`()
    }
    ok
  }

  def stats(groups: Set[String], fromMs: Long, toMs: Long): StageStats = synchronized {
    val js = jobsOf(groups)
    val stageIds = js.flatMap(_.stages).filter(submitted).toSet
    val ts = tasks.filter(t => stageIds(t.stage))
    val heaviest = ts.groupBy(_.stage).values.toSeq.sortBy(xs => -xs.map(_.runMs).sum).headOption
    val skew = heaviest.filter(_.size >= 2).map { xs =>
      val runs = xs.map(_.runMs.toDouble).sorted.toSeq
      runs.last / math.max(1.0, Stats.quantile(runs, 0.5))
    }.getOrElse(1.0)
    val intervals = js.map(j => (j.startMs, math.max(j.startMs, j.endMs))).sortBy(_._1)
    var union = 0L
    var cur = (-1L, -1L)
    intervals.foreach { case (s, e) =>
      if (s > cur._2) { if (cur._2 > cur._1) union += cur._2 - cur._1; cur = (s, e) }
      else cur = (cur._1, math.max(cur._2, e))
    }
    if (cur._2 > cur._1) union += cur._2 - cur._1
    val unattributed = jobs.values.count(j => !groups(j.group) && j.startMs >= fromMs && j.startMs <= toMs)
    StageStats(js.size, stageIds.size, ts.size, ts.map(_.runMs).sum / 1e3, ts.map(_.cpuNs).sum / 1e9,
      ts.map(_.gcMs).sum / 1e3, ts.map(_.deserMs).sum / 1e3, ts.map(_.swBytes).sum / 1e6,
      ts.map(_.swNs).sum / 1e9, ts.map(_.srBytes).sum / 1e6, ts.map(_.fetchMs).sum / 1e3,
      ts.map(_.spillBytes).sum / 1e6, if (ts.isEmpty) 0.0 else ts.map(_.peakMem).max / 1e6,
      skew, union, unattributed)
  }
}
