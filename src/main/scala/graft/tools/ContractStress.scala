package graft.tools

import org.apache.spark.sql.functions._
import graft.engine.{Context, Stages}

/** sf1-equivalent spot-run of the most expensive CONTRACT queries
  * (VERDICT r5 item 7): derives a 10x stress copy of EVERY driver table
  * in /tmp — big tables (lineitem, orders, events, documents,
  * embeddings) replicated with shifted primary keys so join fan-in per
  * dimension key grows 10x (the realistic densification), dimension
  * tables copied as-is — then runs the named `SparkEntry.queries`
  * against the stress dir exactly as the driver would.
  *
  * Per query this asserts/reports what SCALE.md promises at 100 TB:
  *   - rows > 0 (the query still computes),
  *   - worst-stage task skew max/median (gate: <= 4x among stages with
  *     >= 2 s total task time),
  *   - ZERO unbounded Exchange SinglePartition shapes (PlanAudit gate).
  * Exits nonzero if any gate fails. Correctness oracles stay at the
  * driver scale factors — this tool measures shape, not values (the
  * O(n²) exact twins are deliberately out of scope here).
  *
  * Usage: runMain graft.tools.ContractStress [factor] [q1 q2 ...]
  */
object ContractStress {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.flatMap(_.toIntOption).getOrElse(10)
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("q_split_leakage_safe", "q_winsorize", "q_tpch_q18",
        "q_stats_agg", "q_triangles", "q_tpch_q2", "q_percentile",
        "q_dedup_minhash", "q_sessionize", "q_bm25")
    val srcDir = "/root/testdata/sf0.1"
    val outDir = "/tmp/graft_contractstress"
    val spark = Context.session(s"local[${Context.cpus}]", Context.cpus)
    spark.sparkContext.setLogLevel("WARN")

    val marker = new java.io.File(s"$outDir/.factor_$factor")
    if (!marker.exists()) {
      new java.io.File(outDir).mkdirs()
      // a marker from a DIFFERENT factor means the tables on disk are the
      // wrong scale — clear them so a later run at that factor can't
      // silently reuse this run's data as its own evidence
      Option(new java.io.File(outDir).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith(".factor_")).foreach(_.delete())
      val reps = spark.range(factor).select(col("id").as("rep"))
      def keyOffset(table: String, key: String): Long =
        spark.read.parquet(s"$srcDir/$table.parquet")
          .agg(max(col(key))).head().getLong(0) + 1L
      // key-shifted replication: rep r shifts a key column by r*offset.
      // The FK side must shift by the PARENT's offset (l_orderkey shifts
      // by the orders offset), not its own max — the two maxima are equal
      // on full TPC-H data but nothing guarantees it on filtered or
      // regenerated testdata, and a mismatch silently breaks every
      // referential join in the replicas. FKs into dimension tables stay
      // put so per-dimension fan-in densifies 10x.
      def shifted(table: String, keyCols: Seq[(String, Long)],
          textMarker: Option[String]): Unit = {
        val df = spark.read.parquet(s"$srcDir/$table.parquet")
        var out = df.crossJoin(broadcast(reps))
        for ((k, off) <- keyCols)
          out = out.withColumn(k, col(k) + col("rep") * off)
        for (m <- textMarker)
          out = out.withColumn(m,
            when(col("rep") === 0, col(m))
              .otherwise(concat(col(m), lit(" rep"), col("rep"))))
        out.drop("rep").repartition(32)
          .write.mode("overwrite").parquet(s"$outDir/$table.parquet")
      }
      val orderOff = keyOffset("orders", "o_orderkey")
      shifted("orders", Seq("o_orderkey" -> orderOff), None)
      shifted("lineitem", Seq("l_orderkey" -> orderOff), None)
      shifted("events", Seq("event_id" -> keyOffset("events", "event_id")),
        None)
      shifted("documents", Seq("doc_id" -> keyOffset("documents", "doc_id")),
        Some("text"))
      shifted("embeddings", Seq("vec_id" -> keyOffset("embeddings", "vec_id")),
        None)
      for (t <- Seq("region", "nation", "customer", "supplier", "part"))
        spark.read.parquet(s"$srcDir/$t.parquet")
          .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      marker.createNewFile()
      println(s"[stress] built ${factor}x table set at $outDir")
    }

    var failures = List.empty[String]
    println(f"${"query"}%-22s ${"wall_s"}%8s ${"rows"}%9s ${"tasks"}%7s ${"worst-stage max/med (ms, tasks)"}")
    for (n <- names) {
      // time CONSTRUCTION + execution: stored-path queries (q_kn_*_stored,
      // q_ann_stored_*, q_stream_*) run their train/write actions eagerly
      // while the frame is built — timing only the final count() would
      // undersell them vs their in-memory siblings (VERDICT r9 item 6).
      // Their stages also land in the record, so the skew gates see the
      // whole query, not just the serving read.
      val ((df, rows, wall), rec) = Stages.record(spark) {
        val t0 = System.nanoTime()
        val df = graft.SparkEntry.queries(n)(spark, outDir)
        val rows = df.count()
        (df, rows, (System.nanoTime() - t0) / 1e9)
      }
      val sp = PlanAudit.singlePartitionViolations(PlanAudit.physicalPlan(df))
      if (sp.nonEmpty) failures ::= s"$n: ${sp.mkString("; ")}"
      graft.engine.Context.isolate(spark)
      if (rows == 0) failures ::= s"$n: zero rows at ${factor}x"
      val heavy = rec.stages.filter(_.tasks.map(_.durationMs).sum >= 2000)
      // Two skew measures per stage. RECORD skew (max/median task input
      // rows) is the 100 TB signal — it is what grows with data and what
      // salting/capping exist to bound. DURATION skew alone misfires on
      // cheap stages (sub-200 ms medians measure scheduler/GC/JIT jitter,
      // not data placement — verified: a 19.5x duration-skew stage here
      // had perfectly balanced 47k-row buckets), so duration-skew only
      // gates when the median task is >= 200 ms of sustained compute —
      // PLUS an absolute straggler rule: a single task >= 5 s that is
      // >= 20x its stage median is a genuine value-dependent straggler
      // (pathological row, hot computation) even when the median is fast
      // and the record counts are balanced; jitter/GC pauses do not
      // produce 5-second 20x outliers on these workloads.
      //
      // SHUFFLE-read and FILE-SCAN records gate DIFFERENTLY. A shuffle
      // partition is the atom of parallelism — a hot key's rows cannot
      // be split further, so shuffle-record skew at contract scale IS
      // the shape that dies at 100 TB and gates unconditionally. A
      // parquet scan is SPLITTABLE: at real file sizes Spark carves
      // tasks by maxPartitionBytes, so per-task row variance there is
      // bin-packing of this harness's tiny files (measured: a probe
      // scan with 7.8x row variance and 1.05x duration — balanced
      // compute, self-healing granularity at scale). Scan-record skew
      // therefore only gates when duration corroborates: dSkew > 1.5
      // with the MAX task >= 500 ms. The floor sits on the straggler,
      // not the median (ADVICE r9): a 150 ms-median scan whose hot task
      // runs 4x records AND 4x duration is genuine value-dependent skew
      // and must gate, while a sub-500 ms max is scheduler/JIT jitter —
      // rows that cost nothing extra to hold in one task at contract
      // scale will be re-split by the scanner at the scale where they
      // would start to cost.
      case class StageSkew(stage: Stages.Stage) {
        val sid = stage.id
        val n = stage.tasks.size
        val durs = stage.tasks.map(_.durationMs).sorted
        val shufRecs = stage.tasks.map(_.shuffleReadRecords).sorted
        val inRecs = stage.tasks.map(_.inputRecords).sorted
        val gcs = stage.tasks.map(_.gcMs).sorted
        val dMed = math.max(1L, durs(durs.size / 2))
        val dSkew = durs.last.toDouble / dMed
        private def skewOf(rs: Seq[Long]) =
          rs.last.toDouble / math.max(1L, rs(rs.size / 2))
        val sSkew = skewOf(shufRecs)
        val iSkew = skewOf(inRecs)
        // combined view for reporting (worst of the two sources)
        val recs: Seq[Long] = if (sSkew >= iSkew) shufRecs else inRecs
        val rMed = recs(recs.size / 2)
        val rSkew = math.max(sSkew, iSkew)
        val shuffleGates: Boolean = shufRecs.sum >= 10000 && sSkew > 4.0
        val scanGates: Boolean =
          inRecs.sum >= 10000 && iSkew > 4.0 && durs.last >= 500 && dSkew > 1.5
        def dataSkewed: Boolean = shuffleGates || scanGates
        // the failure must report the source that GATED — an excused
        // scan-side ratio may be numerically larger than the shuffle
        // skew that actually fired, and misattributing it points the
        // reader at exactly the self-healing shape the gate ignores
        def gatingSkew: Double = if (shuffleGates) sSkew else iSkew
        def gatingRecs: Seq[Long] = if (shuffleGates) shufRecs else inRecs
        def gatingKind: String = if (shuffleGates) "shuffle" else "scan"
        def computeSkewed: Boolean = (dMed >= 200 && dSkew > 4.0) ||
          (durs.last >= 5000 && dSkew > 20.0)
      }
      val skews = heavy.map(StageSkew(_))
      for (s <- skews.filter(_.dataSkewed).sortBy(-_.gatingSkew).headOption)
        failures ::= f"$n: stage ${s.sid} ${s.gatingKind} record skew " +
          f"${s.gatingSkew}%.2fx (max ${s.gatingRecs.last} / med " +
          f"${s.gatingRecs(s.gatingRecs.size / 2)} rows) exceeds the 4x gate"
      for (s <- skews.filter(_.computeSkewed).sortBy(-_.dSkew).headOption)
        failures ::= f"$n: stage ${s.sid} duration skew ${s.dSkew}%.2fx " +
          f"at med ${s.dMed} ms exceeds the 4x gate"
      val worst = skews.sortBy(-_.rSkew).headOption
      val w = worst.map { s =>
        f"rec ${s.rSkew}%5.2fx dur ${s.dSkew}%5.2fx  " +
          f"(max ${s.durs.last}%6d / med ${s.dMed}%5d ms over ${s.n}%4d tasks)"
      }.getOrElse("no stage >= 2s")
      println(f"$n%-22s $wall%8.2f $rows%9d ${rec.tasks}%7d  $w")
      // a fired skew gate names its stages, so the log diagnoses it
      for (s <- skews.filter(s => s.dataSkewed || s.computeSkewed))
        println(f"  [gate] stage ${s.sid}%4d ${s.n}%4d tasks" +
          f"  dur max ${s.durs.last}%6d med ${s.dMed}%5d (${s.dSkew}%5.2fx)" +
          f"  rec max ${s.recs.last}%9d med ${s.rMed}%9d (${s.rSkew}%5.2fx)" +
          f"  gc max ${s.gcs.last}%5d" +
          s"  ${s.stage.name.takeWhile(_ != '\n').take(60)}")
    }
    spark.stop()
    if (failures.nonEmpty) {
      failures.foreach(f => System.err.println(s"[contractstress] FAIL $f"))
      sys.exit(1)
    }
  }
}
