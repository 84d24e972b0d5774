package perfbench

import scala.collection.mutable

/** One timed execution of one contract query. Times are [[Clock]] epoch
  * milliseconds: build ends at `buildEnd`, planning at `planEnd`, and the
  * action at `end`. A phase that threw ends all later phases at `end`. */
final case class Sample(pass: Int, qid: Int, query: String, start: Double,
    buildEnd: Double, planEnd: Double, end: Double, error: Option[String],
    planNodes: Int = 0, planExchanges: Int = 0, isolateS: Double = 0,
    cacheMb: Double = 0) {
  def wallS: Double = (end - start) / 1e3
  def buildS: Double = (buildEnd - start) / 1e3
  def planS: Double = (planEnd - buildEnd) / 1e3
  def actionS: Double = (end - planEnd) / 1e3
  def phase(t: Double): String =
    if (t < buildEnd) "build" else if (t < planEnd) "plan" else "action"
}

/** One pass over the workload; `wallS` sums the queries' wall times, so
  * the isolation step between queries is not part of it. */
final case class Pass(index: Int, traced: Boolean, samples: Seq[Sample],
    tmpLeakMb: Double) {
  def wallS: Double = samples.map(_.wallS).sum
}

final case class Span(id: Int, parent: Int, trace: String, name: String,
    start: Double, end: Double)

/** Splits the traced passes' wall time across the repo's layers. */
object Layers {
  private val Group = """pb:(\d+):(\d+):(\w+)""".r

  /** Length of the union of intervals, each clipped to [lo, hi]. */
  def union(iv: Iterable[(Double, Double)], lo: Double = Double.MinValue,
      hi: Double = Double.MaxValue): Double = {
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1).foreach {
        case (a, b) => cur match {
          case Some((cs, ce)) if a <= ce => cur = Some((cs, math.max(ce, b)))
          case _ =>
            cur.foreach { case (cs, ce) => total += ce - cs }
            cur = Some((a, b))
        }
      }
    cur.foreach { case (cs, ce) => total += ce - cs }
    total
  }

  final case class Check(pass: Int, query: String, wallS: Double,
      phaseSumS: Double, jobsPlusGapS: Double)

  final case class Result(perPass: Seq[Map[String, Double]],
      checks: Seq[Check], spans: Seq[Span])

  /** `passes` are the traced passes; `trace` holds their events. */
  def analyze(passes: Seq[Pass], trace: Trace, cores: Int): Result =
    trace.synchronized {
      val samples = passes.flatMap(_.samples)
      val byKey = samples.map(s => (s.pass, s.qid) -> s).toMap
      // owner of a job: the query and phase named by its job group, else
      // (streaming threads and pools set their own groups) the query
      // running when it started
      val owner: Map[Int, (Sample, String)] = trace.jobs.values.flatMap { j =>
        j.group.collect { case Group(p, q, ph) =>
          byKey.get((p.toInt, q.toInt)).map(_ -> ph)
        }.flatten.orElse(samples.find(s => j.start >= s.start && j.start < s.end)
          .map(s => s -> s.phase(j.start.toDouble)))
          .map(j.id -> _)
      }.toMap
      val jobsOf = owner.toSeq.groupMap(_._2._1)(o => (trace.jobs(o._1), o._2._2))
      val stagesOfJob = trace.stageJob.toSeq.groupMap(_._2)(_._1)
        .view.mapValues(_.flatMap(trace.stages.get)).toMap
      val tasksOfStage = trace.tasks.groupBy(_.stageId)
      def jobIv(j: JobRec, s: Sample) =
        (j.start.toDouble, if (j.end < 0) s.end else j.end.toDouble)

      val spans = mutable.ArrayBuffer.empty[Span]
      def span(parent: Int, tr: String, name: String, a: Double, b: Double) = {
        spans += Span(spans.size, parent, tr, name, a, b)
        spans.size - 1
      }
      val checks = mutable.ArrayBuffer.empty[Check]

      val perPass = passes.map { pass =>
        val m = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0)
        val lo = pass.samples.map(_.start).min
        val hi = pass.samples.map(_.end).max
        val passTasks = mutable.ArrayBuffer.empty[(TaskRec, String)]
        var skewMax = 1.0
        pass.samples.foreach { s =>
          val jobs = jobsOf.getOrElse(s, Nil)
          val tr = s"${s.pass}:${s.query}"
          val q = span(-1, tr, s.query, s.start, s.end)
          val phaseSpans = Seq("build" -> (s.start, s.buildEnd),
            "plan" -> (s.buildEnd, s.planEnd), "action" -> (s.planEnd, s.end))
            .map { case (ph, (a, b)) => ph -> (span(q, tr, ph, a, b), a, b) }.toMap
          var jobSelf = 0.0
          var stageSum = 0.0
          jobs.foreach { case (j, ph) =>
            val (ja, jb) = jobIv(j, s)
            val jid = span(phaseSpans(ph)._1, tr, s"job ${j.id}", ja, jb)
            val st = stagesOfJob.getOrElse(j.id, Nil)
            st.foreach { x =>
              span(jid, tr, s"stage ${x.id}", x.start.toDouble, x.end.toDouble)
              stageSum += x.end - x.start
              val ts = tasksOfStage.getOrElse(x.id, Nil)
              passTasks ++= ts.map(_ -> ph)
              val runs = ts.map(_.runMs.toDouble).sorted
              if (runs.size >= 2 && runs(runs.size / 2) > 0)
                skewMax = math.max(skewMax, runs.last / runs(runs.size / 2))
            }
            jobSelf += (jb - ja) - union(st.map(x =>
              (x.start.toDouble, x.end.toDouble)), ja, jb)
            m("exec.stages") += st.size
            if (ph == "build") m("entry.build_jobs") += 1
            if (ph == "action") m("exec.jobs") += 1
          }
          val ivs = jobs.map { case (j, _) => jobIv(j, s) }
          val unionAll = union(ivs) / 1e3
          val gap = s.wallS - union(ivs, s.start, s.end) / 1e3
          def phaseSelf(ph: String) = {
            val (_, a, b) = phaseSpans(ph)
            (b - a) / 1e3 - union(jobs.filter(_._2 == ph).map(x => jobIv(x._1, s)), a, b) / 1e3
          }
          m("entry.build_s") += s.buildS
          m("engine.plan_s") += s.planS
          m("exec.action_s") += s.actionS
          m("engine.plan_nodes") += s.planNodes
          m("engine.plan_exchanges") += s.planExchanges
          m("engine.isolate_s") += s.isolateS
          m("engine.cache_peak_mb") = math.max(m("engine.cache_peak_mb"), s.cacheMb)
          m("exec.job_union_s") += unionAll
          m("exec.driver_gap_s") += gap
          m("span.query_self_s") += s.wallS - s.buildS - s.planS - s.actionS
          m("span.build_self_s") += phaseSelf("build")
          m("span.plan_self_s") += phaseSelf("plan")
          m("span.action_self_s") += phaseSelf("action")
          m("span.job_self_s") += jobSelf / 1e3
          m("span.stage_s") += stageSum / 1e3
          val phaseSum = s.buildS + s.planS + s.actionS
          if (math.abs(phaseSum - s.wallS) > 0.05 * s.wallS ||
              math.abs(unionAll + gap - s.wallS) > 0.05 * s.wallS)
            checks += Check(s.pass, s.query, s.wallS, phaseSum, unionAll + gap)
        }
        passTasks.foreach { case (t, ph) =>
          m("exec.tasks") += 1
          if (t.failed) m("exec.task_failures") += 1
          m("exec.task_run_s") += t.runMs / 1e3
          m("exec.task_cpu_s") += t.cpuNs / 1e9
          m("exec.task_gc_s") += t.gcMs / 1e3
          m("exec.sched_delay_s") += t.schedMs / 1e3
          m("shuffle.write_mb") += t.shuffleWrite / 1e6
          m("shuffle.read_mb") += t.shuffleRead / 1e6
          m("shuffle.fetch_wait_s") += t.fetchWaitMs / 1e3
          m("shuffle.spill_mb") += t.spill / 1e6
          m("scan.input_mb") += t.inputBytes / 1e6
          m("scan.input_rows") += t.inputRows
          // the action is the benchmark's own noop write; real sinks
          // write while the query is built
          if (ph != "action") {
            m("sources.output_mb") += t.outputBytes / 1e6
            m("sources.output_rows") += t.outputRows
          }
        }
        m("exec.core_util") = m("exec.task_run_s") / (cores * pass.wallS)
        m("exec.stage_skew_max") = skewMax
        m("sources.tmp_leak_mb") = pass.tmpLeakMb
        trace.plans.values.filter(p => p.start >= lo && p.start <= hi).foreach { p =>
          m("engine.analysis_s") += p.analysisMs / 1e3
          m("engine.optimize_s") += p.optimizeMs / 1e3
          m("engine.physical_s") += p.physicalMs / 1e3
        }
        trace.batches.filter(b => b.start >= lo && b.start <= hi).foreach { b =>
          m("streaming.batches") += 1
          m("streaming.batch_s") += b.durationMs / 1e3
          m("streaming.input_rows") += b.inputRows
          m("streaming.state_rows") += b.stateRows
        }
        m.toMap
      }
      Result(perPass, checks.toSeq, spans.toSeq)
    }
}
