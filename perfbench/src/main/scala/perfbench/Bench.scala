package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange

import graft.SparkEntry
import graft.engine.Context

/** The benchmark harness: one JVM, one session on `local[N]` (N = cores,
  * shuffle partitions = N) and one closed-loop client that runs a
  * workload's contract queries one after another.
  *
  * A run is: set-up (session and sf table registration), repeated
  * `setups` times; one untimed check pass that writes every result and
  * compares it with its DuckDB oracle through `tools/check.py`; then timed
  * passes, each in a seed-shuffled query order, until `seconds` have
  * passed. Every query is timed from outside
  * the engine in three phases: build (`SparkEntry.queries(q)(spark, dir)`),
  * plan (`executedPlan`) and action (a `noop` write). With `trace` on,
  * every second pass runs with listeners attached and feeds [[Layers]].
  */
object Bench {
  type Query = (SparkSession, String) => DataFrame

  final case class Config(workload: String, queries: Seq[String], seed: Long,
      seconds: Double, trace: Boolean, sfDir: String, repoDir: String,
      workDir: String, outDir: String)

  val endToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "pass_s" -> "s",
    "query_p50_s" -> "s", "query_p90_s" -> "s", "failed_frac" -> "ratio",
    "heap_live_mb" -> "MB")

  /** Set-ups per run; `setup_s` is their median. */
  val setups = 3

  /** The end-to-end metrics of the result line (BENCHMARK.json). The
    * per-query percentiles rest on 9 to 24 samples a run, too few to be
    * steady across runs, and `failed_frac` is 0 when all is well; they are
    * printed and recorded, and failures also count in `failed`. */
  val resultMetrics: Seq[String] = Seq("setup_s", "pass_s", "heap_live_mb")

  val perLayer: Seq[(String, String)] = Seq(
    "entry.build_s" -> "s", "entry.build_jobs" -> "count",
    "engine.plan_s" -> "s", "engine.analysis_s" -> "s",
    "engine.optimize_s" -> "s", "engine.physical_s" -> "s",
    "engine.plan_exchanges" -> "count", "engine.plan_nodes" -> "count",
    "engine.isolate_s" -> "s", "engine.cache_peak_mb" -> "MB",
    "exec.action_s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.job_union_s" -> "s",
    "exec.driver_gap_s" -> "s", "exec.sched_delay_s" -> "s",
    "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s",
    "exec.task_gc_s" -> "s", "exec.core_util" -> "ratio",
    "exec.stage_skew_max" -> "ratio", "exec.task_failures" -> "count",
    "shuffle.write_mb" -> "MB", "shuffle.read_mb" -> "MB",
    "shuffle.fetch_wait_s" -> "s", "shuffle.spill_mb" -> "MB",
    "scan.input_mb" -> "MB", "scan.input_rows" -> "count",
    "sources.output_mb" -> "MB", "sources.output_rows" -> "count",
    "sources.tmp_leak_mb" -> "MB",
    "streaming.batches" -> "count", "streaming.batch_s" -> "s",
    "streaming.input_rows" -> "count", "streaming.state_rows" -> "count",
    "span.query_self_s" -> "s", "span.build_self_s" -> "s",
    "span.plan_self_s" -> "s", "span.action_self_s" -> "s",
    "span.job_self_s" -> "s", "span.stage_s" -> "s",
    "trace.overhead_s" -> "s", "trace.layer_sum_bad" -> "count")

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (Python's `statistics.quantiles`
    * inclusive method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val h = (s.size - 1) * q
    val i = h.toInt
    if (i + 1 < s.size) s(i) + (h - i) * (s(i + 1) - s(i)) else s(i)
  }

  /** graft.Bench's isolation step: drop DataFrame and RDD persists, then
    * let a GC pass hand dropped shuffle files and broadcasts to the
    * ContextCleaner before the next query starts. */
  def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    System.gc()
    Thread.sleep(50)
  }

  def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
      .linesIterator.nextOption().getOrElse("").take(300)

  /** Node and exchange count of an executed physical plan, looking
    * through AQE's wrapper and query stages at the plan that ran. */
  def planShape(p: SparkPlan): (Int, Int) = p match {
    case a: AdaptiveSparkPlanExec => planShape(a.executedPlan)
    case s: QueryStageExec => planShape(s.plan)
    case _ =>
      (p.children ++ p.subqueries).map(planShape)
        .foldLeft((1, if (p.isInstanceOf[Exchange]) 1 else 0)) {
          case ((n, e), (n2, e2)) => (n + n2, e + e2)
        }
  }

  def dirBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => scala.util.Try(Files.size(p)).getOrElse(0L)).sum
      finally s.close()
    }

  /** Runs one query through its three phases, then the isolation step
    * (timed on its own). Catches only NonFatal: a failed query keeps its
    * elapsed time. */
  def runOne(spark: SparkSession, sfDir: String, pass: Int, qid: Int,
      name: String, fn: Query, trace: Option[Trace]): Sample = {
    val sc = spark.sparkContext
    val start = Clock.ms()
    var marks = List.empty[Double]
    var df: Option[DataFrame] = None
    var plan: Option[SparkPlan] = None
    val error =
      try {
        sc.setJobGroup(s"pb:$pass:$qid:build", name)
        df = Some(fn(spark, sfDir))
        marks ::= Clock.ms()
        sc.setJobGroup(s"pb:$pass:$qid:plan", name)
        plan = Some(df.get.queryExecution.executedPlan)
        marks ::= Clock.ms()
        sc.setJobGroup(s"pb:$pass:$qid:action", name)
        df.get.write.format("noop").mode("overwrite").save()
        None
      } catch { case NonFatal(e) => Some(message(e)) }
      finally sc.clearJobGroup()
    val end = Clock.ms()
    val Seq(buildEnd, planEnd) = (marks.reverse ++ Seq(end, end)).take(2)
    var sample = Sample(pass, qid, name, start, buildEnd, planEnd, end, error)
    trace.foreach { t =>
      df.foreach(d => t.addPlan(d.queryExecution))
      val (nodes, exchanges) = plan.map(planShape).getOrElse((0, 0))
      val cached = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      sample = sample.copy(planNodes = nodes, planExchanges = exchanges,
        cacheMb = cached / 1e6)
    }
    val t0 = System.nanoTime()
    isolate(spark)
    sample.copy(isolateS = (System.nanoTime() - t0) / 1e9)
  }

  /** The environment every result records. */
  def environment(cfg: Config, spark: SparkSession, cores: Int): Map[String, Any] = {
    val gitSha = scala.util.Try {
      val p = new ProcessBuilder("git", "rev-parse", "HEAD")
        .directory(new java.io.File(cfg.repoDir)).redirectErrorStream(true)
        .start()
      val out = new String(p.getInputStream.readAllBytes()).trim
      if (p.waitFor() == 0) out else "none (not a git checkout)"
    }.getOrElse("none (git not available)")
    val xmx = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(_.startsWith("-Xmx")).lastOption.getOrElse("default")
    Map("nproc" -> cores, "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "xmx" -> xmx, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6,
      "jdk" -> System.getProperty("java.version"),
      "scala" -> scala.util.Properties.versionNumberString,
      "spark" -> spark.version, "git_sha" -> gitSha, "seed" -> cfg.seed,
      "sf_dir" -> cfg.sfDir, "setups" -> setups,
      "workload" -> cfg.workload, "trace" -> cfg.trace,
      "seconds" -> cfg.seconds)
  }

  /** The untimed check pass: runs every query at the bench scale and
    * writes its result for the oracle check; it also warms the JIT and the
    * codegen cache for the timed passes. Returns the queries that threw. */
  def checkPass(cfg: Config, spark: SparkSession,
      fns: Seq[(String, Query)]): Map[String, String] = {
    val dir = Paths.get(cfg.workDir, "verify")
    fns.flatMap { case (name, fn) =>
      val err =
        try {
          fn(spark, cfg.sfDir).coalesce(1).write.mode("overwrite")
            .parquet(dir.resolve(name).toString)
          None
        } catch { case NonFatal(e) => Some(s"THREW ${message(e)}") }
      isolate(spark)
      err.map(name -> _)
    }.toMap
  }

  /** Compares the check pass's results with their DuckDB oracles through
    * tools/check.py. Returns check.py's verdict per query and the queries
    * that fail its pass rule (or were not checked). */
  def oracleCheck(cfg: Config, names: Set[String], thrown: Map[String, String])
      : (Map[String, String], Map[String, String]) = {
    val dir = Paths.get(cfg.workDir, "verify").toAbsolutePath
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("oracle_sql.json"),
      Json(SparkEntry.oracleSql.filter(kv => names(kv._1))))
    val p = new ProcessBuilder("python3", Paths.get(cfg.repoDir, "tools",
      "check.py").toAbsolutePath.toString, cfg.sfDir,
      dir.toString).directory(new java.io.File(cfg.workDir))
      .redirectErrorStream(true).start()
    val lines = new String(p.getInputStream.readAllBytes()).linesIterator.toSeq
    p.waitFor()
    val verdict = lines.flatMap { l =>
      val parts = l.trim.split("\\s+", 2)
      if (parts.length == 2 && names(parts(0))) Some(parts(0) -> parts(1))
      else None
    }.toMap ++ thrown
    // check.py's own pass rule: OK* or a non-empty rows-only result
    val bad = verdict.filterNot { case (_, v) =>
      v.startsWith("OK") || v.startsWith("rows-only (")
    } ++ (names -- verdict.keySet).map(_ ->
      s"NOT-CHECKED (check.py: ${lines.lastOption.getOrElse("no output")})")
    (verdict, bad)
  }

  /** One benchmark run; returns the result record and prints the report.
    * The last line printed is the result JSON. */
  def run(cfg: Config, registry: String => Query,
      out: String => Unit = println): Map[String, Any] = {
    val fns = cfg.queries.map(q => q -> registry(q))
    val cores = Runtime.getRuntime.availableProcessors
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    // set-up: session and sf table registration, `setups` times (the
    // first also pays JVM and Spark start-up); reported as the median
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (0 until setups).foreach { i =>
      val t0 = Clock.ms()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = Context.session(s"local[$cores]", cores)
      Context.forSfDir(spark, cfg.sfDir)
      setupS += (Clock.ms() - (if (i == 0) jvmStart else t0)) / 1e3
    }
    try {
      val tWarm = Clock.ms()
      val thrown = checkPass(cfg, spark, fns)
      val warmS = (Clock.ms() - tWarm) / 1e3
      val env = environment(cfg, spark, cores)
      out(s"[perfbench] env ${Json(env)}")
      val tCheck = Clock.ms()
      val (verdict, bad) = oracleCheck(cfg, fns.map(_._1).toSet, thrown)
      cfg.queries.foreach(q =>
        out(f"[perfbench] oracle $q%-28s ${verdict.getOrElse(q, bad(q))}"))
      out(f"[perfbench] check pass ${warmS}%.1f s, oracle compare " +
        f"${(Clock.ms() - tCheck) / 1e3}%.1f s")

      val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
      val trace = new Trace
      val passes = mutable.ArrayBuffer.empty[Pass]
      val t0 = Clock.ms()
      // at least three timed passes: the second execution of a query is
      // still warming up, and a median of three passes damps that. Traced
      // runs alternate untraced and traced passes, starting and ending
      // untraced, so the overhead estimate is not a warm-up trend
      while (passes.size < 3 ||
          Clock.ms() - t0 < cfg.seconds * 1e3) {
        val p = passes.size
        val traced = cfg.trace && p % 2 == 1
        if (traced) {
          spark.sparkContext.addSparkListener(trace)
          spark.listenerManager.register(trace)
        }
        val tmp0 = dirBytes(tmp)
        val order = new Random(cfg.seed * 1000003L + p).shuffle(fns.indices.toList)
        val samples = order.map { i =>
          runOne(spark, cfg.sfDir, p, i, fns(i)._1, fns(i)._2,
            if (traced) Some(trace) else None)
        }
        if (traced) {
          trace.awaitQuiet()
          spark.sparkContext.removeSparkListener(trace)
          spark.listenerManager.unregister(trace)
        }
        passes += Pass(p, traced, samples, (dirBytes(tmp) - tmp0) / 1e6)
      }
      isolate(spark)
      System.gc()
      val heapLiveMb =
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6

      val timed = passes.toSeq.filterNot(_.traced)
      val traced = passes.toSeq.filter(_.traced)
      val all = passes.toSeq.flatMap(_.samples)
      val failed = all.filter(s => s.error.nonEmpty || bad.contains(s.query))
      val walls = timed.flatMap(_.samples.map(_.wallS))
      val e2e = Map("setup_s" -> median(setupS.toSeq),
        "pass_s" -> median(timed.map(_.wallS)),
        "query_p50_s" -> median(walls), "query_p90_s" -> quantile(walls, 0.9),
        "failed_frac" -> failed.size.toDouble / all.size,
        "heap_live_mb" -> heapLiveMb)
      val failedNames = (failed.map(_.query) ++ bad.keys).distinct.sorted

      val layers =
        if (traced.isEmpty) None
        else {
          val r = Layers.analyze(traced, trace, cores)
          val keys = perLayer.map(_._1)
          val m = keys.map(k => k -> median(r.perPass.map(_.getOrElse(k, 0.0)))).toMap ++
            Map("trace.overhead_s" -> (median(traced.map(_.wallS)) - e2e("pass_s")),
              "trace.layer_sum_bad" -> r.checks.size.toDouble)
          Some((m, r))
        }

      out(s"[perfbench] workload ${cfg.workload}: ${passes.size} passes " +
        s"(${traced.size} traced), ${walls.size} untraced query samples, " +
        s"set-ups ${setupS.map(x => f"$x%.3f").mkString(" ")} s")
      endToEnd.foreach { case (k, u) => out(f"[perfbench] ${k}%-22s ${e2e(k)}%.6f $u") }
      out(s"[perfbench] failed queries (${failedNames.size}): " +
        (if (failedNames.isEmpty) "none" else failedNames.map { q =>
          s"$q [${bad.getOrElse(q, failed.find(_.query == q).flatMap(_.error).getOrElse(""))}]"
        }.mkString("; ")))
      layers.foreach { case (m, r) =>
        perLayer.foreach { case (k, u) => out(f"[perfbench] ${k}%-22s ${m(k)}%.6f $u") }
        out(f"[perfbench] tracing overhead ${m("trace.overhead_s")}%.4f s per pass " +
          f"(traced ${median(traced.map(_.wallS))}%.4f s vs untraced ${e2e("pass_s")}%.4f s)")
        out(s"[perfbench] layer-sum check (5% of wall): ${r.checks.size} of " +
          s"${traced.map(_.samples.size).sum} query samples off")
        r.checks.foreach(c => out(f"[perfbench]   off: pass ${c.pass} ${c.query} " +
          f"wall ${c.wallS}%.4f build+plan+action ${c.phaseSumS}%.4f jobs+gap ${c.jobsPlusGapS}%.4f"))
      }

      val metrics: Map[String, Double] =
        layers.map(_._1).getOrElse(e2e.filter(kv => resultMetrics.contains(kv._1)))
      val units = (endToEnd ++ perLayer).toMap
      val record = Map(
        "correct" -> (failed.isEmpty && bad.isEmpty),
        "attempted" -> all.size, "failed" -> failed.size,
        "metrics" -> metrics.map { case (k, v) =>
          k -> Map("value" -> v, "unit" -> units(k)) })
      val outDir = Paths.get(cfg.outDir)
      Files.createDirectories(outDir)
      Files.writeString(outDir.resolve("result.json"), Json(Map(
        "env" -> env, "end_to_end" -> e2e, "per_layer" -> layers.map(_._1),
        "failed_queries" -> failedNames, "oracle" -> (verdict ++ bad),
        "setups_s" -> setupS, "check_pass_s" -> warmS, "passes" -> passes.map(p => Map("pass" -> p.index,
          "traced" -> p.traced, "wall_s" -> p.wallS, "tmp_leak_mb" -> p.tmpLeakMb,
          "samples" -> p.samples.map(s => Map("query" -> s.query,
            "wall_s" -> s.wallS, "build_s" -> s.buildS, "plan_s" -> s.planS,
            "action_s" -> s.actionS, "error" -> s.error)))),
        "layer_sum_off" -> layers.map(_._2.checks.map(c => Map("pass" -> c.pass,
          "query" -> c.query, "wall_s" -> c.wallS, "phase_sum_s" -> c.phaseSumS,
          "jobs_plus_gap_s" -> c.jobsPlusGapS))))) + "\n")
      layers.foreach { case (_, r) =>
        Files.write(outDir.resolve("spans.jsonl"), r.spans.map(s => Json(Map(
          "id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
          "start_ms" -> s.start, "end_ms" -> s.end))).asJava)
      }
      out(Json(record))
      record
    } finally spark.stop()
  }

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(k, v) if k == s"--$name" => v }

  def main(args: Array[String]): Unit = {
    def need(n: String) = arg(args, n).getOrElse(sys.error(s"missing --$n"))
    val cfg = Config(need("workload"), need("queries").split(",").toSeq,
      need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("sf"), need("repo"), need("work"), need("out"))
    val registry = SparkEntry.queries
    cfg.queries.filterNot(registry.contains).foreach(q =>
      sys.error(s"unknown contract query $q"))
    run(cfg, registry)
  }
}
