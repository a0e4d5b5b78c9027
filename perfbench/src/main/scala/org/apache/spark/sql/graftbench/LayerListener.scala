package org.apache.spark.sql.graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Engine-side counters for the traced run, collected by a listener the
  * benchmark registers on the SparkContext. It lives under
  * `org.apache.spark.sql` because the planner phases of every SQL
  * execution (any session, including the REST server's own clone) ride
  * on `SparkListenerSQLExecutionEnd.qe`, and draining the listener bus
  * before a read needs `SparkContext.listenerBus`; both are
  * package-private. */
final class LayerListener extends SparkListener {
  val jobs, stages, tasks, failedTasks = new LongAdder
  val taskRunMs, taskCpuNs, taskGcMs, schedulerWaitMs = new LongAdder
  val inputBytes, shuffleReadBytes, shuffleWriteBytes = new LongAdder
  val spillBytes, outputBytes = new LongAdder
  val analysisNs, optimizationNs, planningNs = new LongAdder
  private val firstLaunch = new ConcurrentHashMap[(Int, Int), AtomicLong]

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    firstLaunch.computeIfAbsent((e.stageId, e.stageAttemptId),
      _ => new AtomicLong(Long.MaxValue))
      .accumulateAndGet(e.taskInfo.launchTime, math.min)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    stages.increment()
    // queueing: submission -> first task launch of the stage
    val first = firstLaunch.remove((info.stageId, info.attemptNumber()))
    for (sub <- info.submissionTime if first != null &&
         first.get != Long.MaxValue)
      schedulerWaitMs.add(math.max(0L, first.get - sub))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    if (e.reason != Success) failedTasks.increment()
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) {
      taskRunMs.add(m.executorRunTime)
      taskCpuNs.add(m.executorCpuTime)
      taskGcMs.add(m.jvmGCTime)
      inputBytes.add(m.inputMetrics.bytesRead)
      shuffleReadBytes.add(m.shuffleReadMetrics.totalBytesRead)
      shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      outputBytes.add(m.outputMetrics.bytesWritten)
      // per-task scheduling overhead, the Spark UI's "scheduler delay"
      val gettingResult =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime
        else 0L
      schedulerWaitMs.add(math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd if end.qe != null =>
      val phases = end.qe.tracker.phases
      def add(phase: String, to: LongAdder): Unit =
        phases.get(phase).foreach(p => to.add((p.endTimeMs - p.startTimeMs) * 1000000L))
      add(QueryPlanningTracker.ANALYSIS, analysisNs)
      add(QueryPlanningTracker.OPTIMIZATION, optimizationNs)
      add(QueryPlanningTracker.PLANNING, planningNs)
    case _ => ()
  }

  /** Current totals, after every event posted so far was delivered. */
  def snapshot(sc: SparkContext): Map[String, Double] = {
    sc.listenerBus.waitUntilEmpty(60000L)
    Map(
      "jobs" -> jobs.sum.toDouble,
      "stages" -> stages.sum.toDouble,
      "tasks" -> tasks.sum.toDouble,
      "failed_tasks" -> failedTasks.sum.toDouble,
      "task_run_s" -> taskRunMs.sum / 1e3,
      "task_cpu_s" -> taskCpuNs.sum / 1e9,
      "gc_s" -> taskGcMs.sum / 1e3,
      "scheduler_wait_s" -> schedulerWaitMs.sum / 1e3,
      "input_mb" -> inputBytes.sum / 1048576.0,
      "shuffle_read_mb" -> shuffleReadBytes.sum / 1048576.0,
      "shuffle_write_mb" -> shuffleWriteBytes.sum / 1048576.0,
      "spill_mb" -> spillBytes.sum / 1048576.0,
      "output_mb" -> outputBytes.sum / 1048576.0,
      "analysis_ms" -> analysisNs.sum / 1e6,
      "optimization_ms" -> optimizationNs.sum / 1e6,
      "planning_ms" -> planningNs.sum / 1e6)
  }
}
