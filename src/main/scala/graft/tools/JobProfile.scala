package graft.tools

import scala.util.control.NonFatal
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import graft.engine.Context

/** The query runner for local iteration: run named contract queries in ONE
  * session (the Bench.scala execution shape, minus the full sweep) — a
  * warm-up, then `runs` timed noop writes each — with a SparkListener that
  * records every job's wall time and call site. Prints every
  * run, the best run, and the last run's jobs and stages sorted by cost.
  * Answers "where do the seconds of a multi-action query actually go"
  * (train vs store write vs audit vs probe) — the Spark-UI stage view,
  * reduced to a terminal, for sessions where the UI is disabled — and
  * catches in-session re-run failures and JIT-vs-steady-state deltas.
  *
  * Usage: runMain graft.tools.JobProfile <q1,q2,...> [sfDir] [runs]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Context.session(s"local[$cpus]", cpus)

    case class Job(id: Int, start: Long, site: String, var end: Long = -1L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    @volatile var collecting = false
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (collecting) {
          val site = Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short")))
            .getOrElse("?")
          jobs.put(js.jobId, Job(js.jobId, js.time, site))
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val j = jobs.get(je.jobId)
        if (j != null) j.end = je.time
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (collecting) {
          val si = sc.stageInfo
          val wall = (si.completionTime.getOrElse(0L) -
            si.submissionTime.getOrElse(0L)) / 1e3
          val m = si.taskMetrics
          if (wall > 0.15) println(
            f"[jobprofile]   stage ${si.stageId}%4d ${wall}%7.3f s " +
            f"${si.numTasks}%4d tasks  in=${m.inputMetrics.bytesRead / 1e6}%.1f MB " +
            f"sr=${m.shuffleReadMetrics.totalBytesRead / 1e6}%.1f MB " +
            f"sw=${m.shuffleWriteMetrics.bytesWritten / 1e6}%.1f MB  ${si.name}")
        }
    }
    spark.sparkContext.addSparkListener(listener)

    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      // times the write alone; isolation runs after the clock stops
      def once(collect: Boolean): Option[Double] = {
        collecting = collect
        val t0 = System.nanoTime()
        val t =
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            Some((System.nanoTime() - t0) / 1e9)
          } catch { case NonFatal(e) =>
            println(s"[jobprofile] $name FAILED: ${e.getMessage}"); None
          }
        collecting = false
        Context.isolate(spark)
        t
      }
      once(collect = false) // JIT/codegen warm-up
        .foreach(w => println(f"[jobprofile] $name warm-up ${w}%.3f s"))
      val times = (1 to runs).flatMap { i =>
        jobs.clear()
        val t = once(collect = true)
        t.foreach(s => println(f"[jobprofile] $name run$i ${s}%.3f s, ${jobs.size} jobs"))
        t
      }
      // the last run's breakdown
      import scala.jdk.CollectionConverters._
      val done = jobs.values().asScala.filter(_.end > 0).toSeq
      val total = done.map(j => j.end - j.start).sum / 1e3
      println(f"[jobprofile] job wall sum ${total}%.3f s over ${done.size} jobs (gaps = driver time)")
      val bySite = done.groupBy(_.site).map { case (s, js) =>
        (s, js.map(j => j.end - j.start).sum / 1e3, js.size)
      }.toSeq.sortBy(-_._2)
      bySite.take(30).foreach { case (s, sec, n) =>
        println(f"[jobprofile]   ${sec}%8.3f s  $n%4d jobs  $s")
      }
      done.sortBy(j => -(j.end - j.start)).take(15).foreach { j =>
        println(f"[jobprofile]   job ${j.id}%4d  ${(j.end - j.start) / 1e3}%8.3f s  ${j.site}")
      }
      if (times.nonEmpty) println(f"[jobprofile] $name best ${times.min}%.3f s")
    }
    spark.stop()
  }
}
