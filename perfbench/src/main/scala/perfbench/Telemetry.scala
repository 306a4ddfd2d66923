package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer of the program, made by the benchmark. The
  * Spark jobs the call starts carry `group` as their job group. */
final case class Span(layer: String, name: String, group: String, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1000.0
}

/** Wraps the benchmark's calls into the program's layers. With tracing
  * off it only runs them; with tracing on it gives each call its own job
  * group (so the listener can attribute the call's jobs, stages and tasks
  * to it) and records the call's span. Timestamps are wall-clock
  * milliseconds, the clock Spark's listener events use. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private var seq = 0
  val spans = mutable.ArrayBuffer.empty[Span]

  def call[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      seq += 1
      val group = s"perfbench-$seq"
      sc.setJobGroup(group, s"$layer $name", interruptOnCancel = false)
      val t0 = System.currentTimeMillis()
      try body
      finally {
        spans += Span(layer, name, group, t0, System.currentTimeMillis())
        sc.clearJobGroup()
      }
    }
}

/** Task counters summed over a set of tasks. */
final class TaskAgg {
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  var output = 0L
  var waitMs = 0L

  def add(o: TaskAgg): Unit = {
    tasks += o.tasks; failedTasks += o.failedTasks; runMs += o.runMs
    cpuNs += o.cpuNs; gcMs += o.gcMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill; input += o.input
    output += o.output; waitMs += o.waitMs
  }
}

/** Collects job, stage and task events of the benchmark's own job groups.
  * Events arrive on Spark's listener thread; readers drain the bus first
  * (see [[LayerListener.settle]]). */
final class LayerListener extends SparkListener {
  private val JobGroupKey = "spark.jobGroup.id"
  private final class Job(val group: String, val start: Long, var end: Long)

  private val jobs = mutable.Map.empty[Int, Job]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]
  private val stageAttempts = mutable.Map.empty[String, Long]
  private val stageRetries = mutable.Map.empty[String, Long]
  private val persisted = mutable.Map.empty[String, mutable.Set[Int]]
  private val taskAggs = mutable.Map.empty[String, TaskAgg]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(JobGroupKey)))
    g.filter(_.startsWith("perfbench-")).foreach { group =>
      jobs(e.jobId) = new Job(group, e.time, e.time)
      e.stageInfos.foreach(si => stageGroup.getOrElseUpdate(si.stageId, group))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    stageGroup.get(si.stageId).foreach { group =>
      stageSubmit((si.stageId, si.attemptNumber())) =
        si.submissionTime.getOrElse(System.currentTimeMillis())
      stageAttempts(group) = stageAttempts.getOrElse(group, 0L) + 1
      if (si.attemptNumber() > 0) stageRetries(group) = stageRetries.getOrElse(group, 0L) + 1
      si.rddInfos.filter(r => r.storageLevel.useMemory || r.storageLevel.useDisk)
        .foreach(r => persisted.getOrElseUpdate(group, mutable.Set.empty[Int]) += r.id)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { group =>
      val a = taskAggs.getOrElseUpdate(group, new TaskAgg)
      val info = e.taskInfo
      a.tasks += 1
      if (info.failed || info.killed) a.failedTasks += 1
      stageSubmit.get((e.stageId, e.stageAttemptId)).foreach(s =>
        a.waitMs += math.max(0L, info.launchTime - s))
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
        a.output += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Wait until every event posted so far has been delivered here. */
  def settle(sc: SparkContext): Unit = org.apache.spark.perfbench.ListenerDrain.drain(sc)

  /** Per-layer metrics of one traced run: each is the sum over the layer's
    * calls in `spans`. `cpus` is the local scheduler's slot count. */
  def layerMetrics(spans: Seq[Span], layers: Seq[String], cpus: Int): Map[String, Double] =
    synchronized {
      layers.flatMap { layer =>
        val ls = spans.filter(_.layer == layer)
        val groups = ls.map(_.group).toSet
        val layerJobs = jobs.values.filter(j => groups.contains(j.group)).toSeq
        val agg = new TaskAgg
        groups.foreach(g => taskAggs.get(g).foreach(agg.add))
        val selfMs = ls.map { s =>
          Stats.selfTime(s.start, s.end,
            layerJobs.filter(_.group == s.group).map(j => (j.start, j.end)))
        }.sum
        val jobWallMs = Stats.covered(layerJobs.map(j => (j.start, j.end)),
          Long.MinValue, Long.MaxValue)
        val mb = 1024.0 * 1024.0
        Seq(
          "calls" -> ls.size.toDouble,
          "wall_s" -> ls.map(_.seconds).sum,
          "self_s" -> selfMs / 1000.0,
          "jobs" -> layerJobs.size.toDouble,
          "stages" -> groups.toSeq.map(stageAttempts.getOrElse(_, 0L)).sum.toDouble,
          "tasks" -> agg.tasks.toDouble,
          "exec_run_s" -> agg.runMs / 1000.0,
          "exec_cpu_s" -> agg.cpuNs / 1e9,
          "gc_s" -> agg.gcMs / 1000.0,
          "shuffle_write_mb" -> agg.shuffleWrite / mb,
          "shuffle_read_mb" -> agg.shuffleRead / mb,
          "spill_mb" -> agg.spill / mb,
          "input_mb" -> agg.input / mb,
          "output_mb" -> agg.output / mb,
          "task_wait_s" -> agg.waitMs / 1000.0,
          "slot_util" -> (if (jobWallMs > 0) agg.runMs.toDouble / (jobWallMs * cpus) else 0.0),
          "failed_tasks" -> agg.failedTasks.toDouble,
          "stage_retries" -> groups.toSeq.map(stageRetries.getOrElse(_, 0L)).sum.toDouble,
        ).map { case (k, v) => s"$layer.$k" -> v }
      }.toMap
    }

  /** Distinct RDDs persisted by the stages of the given spans' jobs. */
  def rddsPersisted(spans: Seq[Span]): Int = synchronized {
    spans.flatMap(s => persisted.get(s.group).toSeq.flatten).toSet.size
  }
}
