package graft.tools

import graft.engine.{Run, Stages}

/** Local iteration on a few queries: run named contract queries in ONE
  * session (the Bench.scala execution shape, minus the full sweep) — a
  * warm-up, then `runs` timed noop writes each, through
  * [[graft.engine.Run]] — and read each run's stage record. Prints the
  * session set-up seconds, every run, the best run, and the last run's
  * jobs (by description, else call site) and stages sorted by cost.
  * Answers "where do the seconds of a multi-action query actually go"
  * (train vs store write vs audit vs probe) — the Spark-UI stage view,
  * reduced to a terminal, for sessions where the UI is disabled — and
  * catches in-session re-run failures and JIT-vs-steady-state deltas.
  * Each run also prints the OS processes it started, grouped by command
  * ([[ProcessStarts]]): a forked helper per file operation shows there
  * and in no Spark metric.
  *
  * Usage: runMain graft.tools.JobProfile <q1,q2,...> [sfDir] [runs]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val queries = Run.resolve(args(0), graft.SparkEntry.queries)
    val sfDir = if (args.length > 1) args(1) else
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = if (args.length > 2) args(2).toInt else 2
    val (spark, setupS) = graft.Bench.setUp(sfDir)
    println(f"[jobprofile] set-up $setupS%.3f s (session + sf table registration)")

    for ((name, fn) <- queries) {
      // the processes of the whole run, build and action included
      def once(): Option[(Double, Stages.Record, Seq[String])] = {
        val (run, procs) = ProcessStarts.record(
          Run(spark, "jobprofile", name)(Run.noop(fn(spark, sfDir))))
        run.toOption.map(d => (d.seconds, d.record, procs))
      }
      def processes(procs: Seq[String]): String =
        s"${procs.size} processes" + (if (procs.isEmpty) "" else
          ProcessStarts.grouped(procs).map { case (c, n) => s"$n $c" }
            .mkString(" (", ", ", ")"))
      once() // JIT/codegen warm-up
        .foreach { case (s, rec, procs) =>
          println(f"[jobprofile] $name warm-up $s%.3f s, " +
            f"${rec.codegenCompiles} codegen compiles, ${processes(procs)}") }
      val timed = (1 to runs).flatMap { i =>
        val t = once()
        t.foreach { case (s, rec, procs) =>
          println(f"[jobprofile] $name run$i ${s}%.3f s, ${rec.jobs.size} jobs, " +
            f"${rec.stages.size} stages, ${rec.codegenCompiles} codegen compiles, " +
            processes(procs)) }
        t
      }
      // the last run's breakdown
      for ((_, rec, _) <- timed.lastOption) {
        for (st <- rec.stages.filter(_.wallMs > 150).sortBy(-_.wallMs))
          println(f"[jobprofile]   stage ${st.id}%4d ${st.wallMs / 1e3}%7.3f s " +
            f"${st.tasks.size}%4d tasks  sr=${st.shuffleReadBytes / 1e6}%.1f MB " +
            f"sw=${st.shuffleWriteBytes / 1e6}%.1f MB  ${st.name}")
        val done = rec.jobs.filter(j => j.start > 0 && j.end > 0)
        val total = done.map(j => j.end - j.start).sum / 1e3
        println(f"[jobprofile] job wall sum ${total}%.3f s over ${done.size} jobs (gaps = driver time)")
        val byLabel = done.groupBy(j => j.description.getOrElse(j.name)).map { case (s, js) =>
          (s, js.map(j => j.end - j.start).sum / 1e3, js.size)
        }.toSeq.sortBy(-_._2)
        byLabel.take(30).foreach { case (s, sec, n) =>
          println(f"[jobprofile]   ${sec}%8.3f s  $n%4d jobs  $s")
        }
        done.sortBy(j => -(j.end - j.start)).take(15).foreach { j =>
          println(f"[jobprofile]   job ${j.id}%4d  ${(j.end - j.start) / 1e3}%8.3f s  ${j.description.getOrElse(j.name)}")
        }
      }
      if (timed.nonEmpty) println(f"[jobprofile] $name best ${timed.map(_._1).min}%.3f s")
    }
    spark.stop()
  }
}
