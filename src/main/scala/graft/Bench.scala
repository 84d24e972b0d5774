package graft

import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine.{Context, Run, Stages}

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric","value","unit","queries","sf"}.
  *
  * Each query runs through [[Run]], forced with its noop-format write
  * ([[Run.noop]]), so the timing covers the full declared plan. */
object Bench {
  type Query = (SparkSession, String) => DataFrame

  /** One measured sweep: per query the min of two runs (the successful
    * run's time if only one succeeded, -1 if neither did), the queries
    * with at least one failed run, and the stage record of the run whose
    * time is reported (none for a query that never succeeded). */
  final case class Sweep(times: Seq[(String, Double)], failed: Seq[String],
      records: Map[String, Stages.Record]) {
    /** Queries without a successful run add nothing — the formula of every
      * past round, kept so totals stay comparable; `failed` is what makes a
      * crash visible. */
    def total: Double = times.map(_._2).filter(_ >= 0).sum
  }

  /** Min of two measured runs per query, in name order. The second run
    * can reuse the first run's generated classes only while the session's
    * codegen cache still holds them (`Context.session` sizes it; a
    * query's record counts its `codegenCompiles`), so the min reflects
    * steady-state execution rather than compilation and JIT noise. */
  def sweep(spark: SparkSession, sfDir: String,
      queries: Map[String, Query]): Sweep = {
    val runs = queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      def once() = Run(spark, "bench", name)(Run.noop(fn(spark, sfDir))).toOption
      (name, Seq(once(), once()))
    }
    val best = runs.flatMap { case (name, rs) =>
      rs.flatten.minByOption(_.seconds).map(name -> _) }.toMap
    Sweep(
      runs.map { case (name, _) => name -> best.get(name).fold(-1.0)(_.seconds) },
      runs.collect { case (name, rs) if rs.exists(_.isEmpty) => name },
      best.map { case (name, run) => name -> run.record })
  }

  /** Per-query jobs, stages that ran (a stage skipped through shuffle
    * reuse runs nothing), successful tasks, shuffle read, spill and
    * codegen compiles — the BENCH_LOCAL.json `records` object. */
  def recordsJson(s: Sweep): String = {
    def mb(bytes: Long) =
      BigDecimal(bytes / 1e6).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    s.records.toSeq.sortBy(_._1).map { case (name, r) =>
      s""""$name":{"jobs":${r.jobs.size},"stages":${r.stages.count(_.tasks.nonEmpty)},""" +
        s""""tasks":${r.tasks},"shuffle_read_mb":${mb(r.shuffleReadBytes)},""" +
        s""""spill_mb":${mb(r.spillBytes)},"codegen_compiles":${r.codegenCompiles}}"""
    }.mkString("{", ",", "}")
  }

  /** The session every main runs on, with the sf tables registered:
    * `Context.session` + `Context.forSfDir`, and the seconds they took
    * (the side artifact's `setup_s`; perfbench's `setup_s` times the same
    * two calls). */
  def setUp(sfDir: String): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val spark = Context.session()
    Context.forSfDir(spark, sfDir)
    (spark, (System.nanoTime() - t0) / 1e9)
  }

  /** The compact headline line (the first line Bench prints). */
  def shortLine(s: Sweep, sfDir: String): String =
    s"""{"metric":"total","value":${s.total},"unit":"sec","n_queries":${s.times.size},"n_failed":${s.failed.size},"sf":"$sfDir"}"""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val (spark, setupS) = setUp(sfDir)

    // Warm-up: run every query once at the smallest scale factor so the
    // measured pass reports steady-state (codegen classes compiled, JIT
    // warm) rather than first-run compilation latency. Falls back to a
    // single-query warm-up if sf0.001 is absent. A warm-up failure is
    // printed and otherwise ignored; the measured runs count failures.
    val warmDir = "/root/testdata/sf0.001"
    val warm =
      if (new java.io.File(warmDir).isDirectory && warmDir != sfDir)
        SparkEntry.queries.toSeq.map { case (name, fn) => (name, fn, warmDir) }
      else SparkEntry.queries.get("q_scan").map(("q_scan", _, sfDir)).toSeq
    for ((name, fn, dir) <- warm) Run(spark, "bench warm-up", name)(Run.noop(fn(spark, dir)))
    val results = sweep(spark, sfDir, SparkEntry.queries)
    // per-query values rounded to 0.1 ms (far below the run-to-run
    // noise): the one-line JSON is ~30% shorter, so a bounded log-tail
    // capture is likelier to hold it whole
    def fmt(v: Double): String =
      if (v < 0) v.toString
      else BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .bigDecimal.toPlainString
    val qs = results.times.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // SHORT line first, FULL line LAST: a bounded log capture may keep
    // only a head or only a tail — the head gets the compact headline,
    // and the tail ends with the complete per-query JSON (nothing is
    // printed to stdout after it, so a tail of >= the full line's length
    // always contains it intact).
    val fullLine =
      s"""{"metric":"total","value":${results.total},"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    println(shortLine(results, sfDir))
    // also persist the complete per-query map to BENCH_LOCAL.json at the
    // repo root (a bounded log tail truncates the per-query line), never
    // in the JVM cwd, so a bench launched from a tool dir cannot strand it
    try {
      val repoRoot = sys.env.get("SPARK_GRAFT_REPO_DIR").getOrElse {
        // sbt's forked runMain runs from a jar under target/bg-jobs, so walk
        // up to the dir holding build.sbt; a null code source or a failed
        // walk falls back to the JVM cwd
        Option(Bench.getClass.getProtectionDomain.getCodeSource)
          .flatMap { cs =>
            val start = java.nio.file.Paths.get(cs.getLocation.toURI)
            Iterator.iterate(start)(_.getParent).takeWhile(_ != null)
              .find(p => java.nio.file.Files.exists(p.resolve("build.sbt")))
              .map(_.toString)
          }
          .getOrElse(System.getProperty("user.dir"))
      }
      val out = java.nio.file.Paths.get(repoRoot, "BENCH_LOCAL.json")
      // the side artifact also carries the environment (cpus, heap, gc
      // isolation), the set-up seconds, the failed queries' names and each
      // query's stage record; the stdout full line keeps its exact shape
      val failed = results.failed.map("\"" + _ + "\"").mkString("[", ",", "]")
      val envLine = fullLine.dropRight(1) +
        s""","cpus":${Context.cpus},"heap_max_mb":${Runtime.getRuntime.maxMemory / (1 << 20)},"gc_between":true,"setup_s":${fmt(setupS)},"failed":$failed,"records":${recordsJson(results)}}"""
      java.nio.file.Files.writeString(out, envLine + "\n")
      System.err.println(s"[bench] wrote $out")
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] BENCH_LOCAL.json write failed: ${e.getMessage}") }
    // the full line goes out LAST (after the BENCH_LOCAL.json side
    // artifact, whose stderr chatter must not land between the tail and
    // the JSON in an interleaved capture)
    println(fullLine)
    spark.stop()
  }
}
