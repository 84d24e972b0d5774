package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with sub-millisecond resolution, on the same base as
  * Spark's listener event times (which are `currentTimeMillis`). */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

final case class JobRec(id: Int, group: Option[String], start: Long,
    var end: Long, stageIds: Seq[Int])
final case class StageRec(id: Int, start: Long, end: Long)
final case class TaskRec(stageId: Int, failed: Boolean, runMs: Long,
    cpuNs: Long, gcMs: Long, schedMs: Long, shuffleWrite: Long,
    shuffleRead: Long, fetchWaitMs: Long, spill: Long, inputBytes: Long,
    inputRows: Long, outputBytes: Long, outputRows: Long)
final case class BatchRec(start: Long, durationMs: Long, inputRows: Long,
    stateRows: Long)
/** Catalyst phase durations of one QueryExecution (QueryPlanningTracker). */
final case class PlanRec(start: Long, analysisMs: Long, optimizeMs: Long,
    physicalMs: Long)

/** Records the scheduler, streaming and planning events of the traced
  * passes. Spark delivers them on its listener bus, after the fact; the
  * benchmark attributes them to queries once a pass has ended. Only public
  * listener APIs are used, so nothing in the engine changes. */
final class Trace extends SparkListener with QueryExecutionListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.Map.empty[Int, StageRec]
  val stageJob = mutable.Map.empty[Int, Int]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val batches = mutable.ArrayBuffer.empty[BatchRec]
  /** Keyed by QueryExecution identity, so a plan seen twice counts once. */
  val plans = mutable.LinkedHashMap.empty[Int, PlanRec]
  @volatile private var events = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
    jobs(e.jobId) = JobRec(e.jobId, group, e.time, -1L,
      e.stageInfos.map(_.stageId))
    e.stageInfos.foreach(s => stageJob.getOrElseUpdate(s.stageId, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events += 1
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      events += 1
      val si = e.stageInfo
      for (s <- si.submissionTime; c <- si.completionTime)
        stages(si.stageId) = StageRec(si.stageId, s, c)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    val m = e.taskMetrics
    val info = e.taskInfo
    tasks += (if (m == null) TaskRec(e.stageId, failed = true,
      0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    else {
      // the Spark UI's scheduler delay: task duration not spent running,
      // (de)serializing or fetching the result
      val sched = info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (info.gettingResult) info.finishTime - info.gettingResultTime
         else 0L)
      TaskRec(e.stageId, e.reason != Success, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, math.max(0L, sched),
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.fetchWaitTime,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
    })
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent => synchronized {
      events += 1
      val pr = p.progress
      batches += BatchRec(java.time.Instant.parse(pr.timestamp).toEpochMilli,
        pr.batchDuration, pr.numInputRows,
        pr.stateOperators.map(_.numRowsTotal).sum)
    }
    case _ => ()
  }

  def addPlan(qe: QueryExecution): Unit = synchronized {
    events += 1
    val ph = qe.tracker.phases
    def d(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    if (ph.nonEmpty) plans(System.identityHashCode(qe)) = PlanRec(
      ph.values.map(_.startTimeMs).min, d("analysis"), d("optimization"),
      d("planning"))
  }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    addPlan(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    addPlan(qe)

  /** Waits until Spark has delivered the events of every started job:
    * all jobs ended and no new event for 300 ms (at most 15 s). */
  def awaitQuiet(): Unit = {
    val deadline = System.nanoTime() + 15e9.toLong
    var last = -1L
    while (System.nanoTime() < deadline &&
        (last != events || synchronized(jobs.values.exists(_.end < 0)))) {
      last = events
      Thread.sleep(300)
    }
  }
}
