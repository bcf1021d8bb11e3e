package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Records the scheduler's job, stage and task events and Catalyst's
  * planning phases while it is registered. The harness tags each phase of
  * a call with the local property [[Tracer.SpanKey]] (`<kind>/<phase>`);
  * Spark copies local properties into every job the thread starts, so each
  * job and stage is attributed to the call span that caused it.
  *
  * Events arrive on the listener-bus thread: read the records only after
  * draining the bus. Aggregation happens in `perfbench/run.py`, so the
  * records stay raw here. */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  private val stageSpan = mutable.Map.empty[(Int, Int), String]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageAgg]
  private val plans = mutable.ArrayBuffer.empty[Map[String, Any]]

  private final class StageAgg(val span: String) {
    var numTasks = 0
    var submitMs = 0L
    var completeMs = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
    var retries = 0
    var runMs, cpuNs, gcMs = 0L
    var shWrite, shWriteNs, shRead, fetchWaitMs, spill, inBytes, inRecords = 0L
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = mutable.LinkedHashMap[String, Any](
      "job" -> e.jobId, "span" -> spanOf(e.properties), "start_ms" -> e.time,
      "end_ms" -> e.time, "stages" -> e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_("end_ms") = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    val key = (i.stageId, i.attemptNumber())
    stageSpan(key) = spanOf(e.properties)
    val agg = stages.getOrElseUpdate(key, new StageAgg(stageSpan(key)))
    agg.numTasks = i.numTasks
    agg.submitMs = i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val agg = stages.getOrElseUpdate((i.stageId, i.attemptNumber()),
      new StageAgg(stageSpan.getOrElse((i.stageId, i.attemptNumber()), "")))
    agg.numTasks = i.numTasks
    agg.completeMs = i.completionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val key = (e.stageId, e.stageAttemptId)
    val agg = stages.getOrElseUpdate(key, new StageAgg(stageSpan.getOrElse(key, "")))
    agg.taskMs += e.taskInfo.duration
    if (e.taskInfo.attemptNumber > 0 || e.taskInfo.speculative || e.reason != Success)
      agg.retries += 1
    val m = e.taskMetrics
    if (m != null) {
      agg.runMs += m.executorRunTime
      agg.cpuNs += m.executorCpuTime
      agg.gcMs += m.jvmGCTime
      agg.shWrite += m.shuffleWriteMetrics.bytesWritten
      agg.shWriteNs += m.shuffleWriteMetrics.writeTime
      agg.shRead += m.shuffleReadMetrics.totalBytesRead
      agg.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      agg.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      agg.inBytes += m.inputMetrics.bytesRead
      agg.inRecords += m.inputMetrics.recordsRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlan(funcName, qe, failed = false)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPlan(funcName, qe, failed = true)

  private def recordPlan(funcName: String, qe: QueryExecution, failed: Boolean): Unit = synchronized {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    plans += ListMap("func" -> funcName, "failed" -> failed,
      "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
      "planning_ms" -> ms("planning"))
  }

  /** Everything recorded so far, as JSON-encodable values. */
  def snapshot(): Map[String, Any] = synchronized {
    ListMap(
      "jobs" -> jobs.values.map(_.toMap).toSeq,
      "stages" -> stages.map { case ((id, attempt), a) =>
        ListMap("stage" -> id, "attempt" -> attempt, "span" -> a.span,
          "num_tasks" -> a.numTasks, "submit_ms" -> a.submitMs,
          "complete_ms" -> a.completeMs, "task_ms" -> a.taskMs.toSeq,
          "retries" -> a.retries, "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs,
          "gc_ms" -> a.gcMs, "shuffle_write_bytes" -> a.shWrite,
          "shuffle_write_ns" -> a.shWriteNs,
          "shuffle_read_bytes" -> a.shRead, "fetch_wait_ms" -> a.fetchWaitMs,
          "spill_bytes" -> a.spill, "input_bytes" -> a.inBytes,
          "input_records" -> a.inRecords)
      }.toSeq,
      "plans" -> plans.toSeq)
  }

  def clear(): Unit = synchronized {
    jobs.clear(); stageSpan.clear(); stages.clear(); plans.clear()
  }
}

object Tracer {
  /** Spark local property naming the call span a job belongs to. */
  val SpanKey = "perfbench.span"

  private def spanOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(SpanKey))).getOrElse("")
}
