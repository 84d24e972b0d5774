package graft.engine

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftx.Bridge
import org.apache.spark.status.api.v1.TaskMetrics

/** What a block of code ran on the cluster: the jobs and stages it
  * created, read from Spark's own status store (kept by the always-on
  * `AppStatusListener`, also with the UI disabled) instead of a private
  * listener. The one per-query record that JobProfile, Stress and Bench
  * read.
  *
  * Every task figure counts SUCCESSFUL attempts only: a failed or killed
  * attempt carries partial metrics and would register as a near-empty
  * task, deflating medians into spurious skew under retry churn. The store
  * retains `spark.ui.retainedStages` (1000) stages, so a body that creates
  * more loses its oldest ones. */
object Stages {
  /** One successful task: wall and JVM GC ms, and the records it read from
    * shuffle and from files (apart: they gate differently, see
    * `tools.Stress.gates`). */
  final case class Task(durationMs: Long, gcMs: Long,
      shuffleReadRecords: Long, inputRecords: Long)

  /** A stage with its attempts merged; byte counts sum its successful
    * tasks. A stage skipped through shuffle reuse has no tasks. */
  final case class Stage(id: Int, name: String, wallMs: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long,
      memorySpilled: Long, diskSpilled: Long, tasks: Seq[Task])

  /** A job with its call-site name and its `setJobDescription` label
    * (e.g. "sssp round 3"); start and end in epoch ms (-1 if unknown). */
  final case class Job(id: Int, name: String, description: Option[String],
      start: Long, end: Long)

  /** `codegenCompiles`: the generated classes Janino compiled while the
    * body ran, i.e. the codegen cache's misses. The counter is JVM-wide,
    * so it also counts other threads' compiles in that window. A repeated
    * query that compiles again means the cache is evicting its classes. */
  final case class Record(jobs: Seq[Job], stages: Seq[Stage],
      codegenCompiles: Long) {
    def tasks: Int = stages.map(_.tasks.size).sum
    def shuffleReadBytes: Long = stages.map(_.shuffleReadBytes).sum
    def spillBytes: Long = stages.map(s => s.memorySpilled + s.diskSpilled).sum
  }

  /** Run `body` and return its result with the record of what it ran. */
  def record[T](spark: SparkSession)(body: => T): (T, Record) = {
    val sc = spark.sparkContext
    // drain first, so earlier work's late events cannot land past the marks
    Bridge.waitUntilEmpty(sc)
    val jobMark = (-1 +: Bridge.jobs(sc).map(_.jobId)).max
    val stageMark = (-1 +: Bridge.stages(sc).map(_.stageId)).max
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileMark = compiles
    val out = body
    val compiled = compiles - compileMark
    Bridge.waitUntilEmpty(sc)
    def ms(d: Option[java.util.Date]) = d.fold(-1L)(_.getTime)
    val jobs = Bridge.jobs(sc).filter(_.jobId > jobMark).sortBy(_.jobId)
      .map(j => Job(j.jobId, j.name, j.description,
        ms(j.submissionTime), ms(j.completionTime)))
    val stages = Bridge.stages(sc).filter(_.stageId > stageMark)
      .groupBy(_.stageId).toSeq.sortBy(_._1).map { case (id, attempts) =>
        val done = attempts.flatMap(Bridge.successfulTasks(sc, _))
          .flatMap(t => t.taskMetrics.map(m => (t.duration.getOrElse(0L), m)))
        val starts = attempts.flatMap(_.submissionTime.map(_.getTime))
        val ends = attempts.flatMap(_.completionTime.map(_.getTime))
        def sum(f: TaskMetrics => Long) = done.map(d => f(d._2)).sum
        Stage(id, attempts.last.name,
          if (starts.isEmpty || ends.isEmpty) 0L else ends.max - starts.min,
          sum(m => m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead),
          sum(_.shuffleWriteMetrics.bytesWritten),
          sum(_.memoryBytesSpilled), sum(_.diskBytesSpilled),
          done.map { case (d, m) => Task(d, m.jvmGcTime,
            m.shuffleReadMetrics.recordsRead, m.inputMetrics.recordsRead) })
      }
    (out, Record(jobs, stages, compiled))
  }
}
