package graft

/** Plan-shape assertions — the engine's analog of the reference's golden
  * plan-string tests (ref: predicate_pushdown.rs:539-719,
  * projection_pushdown.rs:303-442): instead of matching plan text exactly,
  * assert the properties that matter at scale — pushdown reached the scan,
  * column pruning happened, partial aggregation exists, the dim join
  * broadcasts, top-k fuses. */
class PlanSpec extends org.scalatest.funsuite.AnyFunSuite {
  import org.apache.spark.sql.functions._
  lazy val spark = SparkFixture.spark
  private val dir = SparkFixture.sfDir

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("filter predicate pushes into the parquet scan (ref PredicatePushDownRule analog)") {
    val p = plan("q_agg_group")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
  }

  test("column pruning reaches the scan (ref ProjectionPushDownRule analog)") {
    val p = plan("q_join_fanout")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int>"),
      "lineitem scan should read exactly the 2 needed columns")
  }

  test("grouped aggregation plans partial (map-side) + final phases") {
    val p = plan("q_agg_group")
    assert(p.contains("partial_sum") && p.contains("partial_count"))
  }

  test("dim join resolves to broadcast hash join") {
    assert(plan("q_join_inner").contains("BroadcastHashJoin"))
  }

  test("empty-key theta join plans nested-loop, not shuffle join") {
    assert(plan("q_cross_theta").contains("BroadcastNestedLoopJoin"))
  }

  test("FastSS fuzzy join and near-dup candidate generation never go cartesian") {
    for (q <- Seq("q_fuzzy_join_docs", "q_dedup_minhash",
        "q_dedup_incremental_near", "q_decontaminate")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a nested loop")
    }
  }

  test("aggregator curation plans partial aggregation, no window sort") {
    val p = plan("q_curate_agg")
    assert(!p.contains("Window"), "q_curate_agg fell back to a window")
  }

  test("binned range join plans an equi-join, not a nested loop") {
    val p = plan("q_range_join_binned")
    assert(!p.contains("BroadcastNestedLoopJoin"), "binned range join fell back to NLJ")
    assert(!p.contains("CartesianProduct"))
  }

  test("ANN top-k ranks via partial aggregation, not a per-query window sort") {
    val p = plan("q_ann_topk")
    assert(!p.contains("Window"), "top-k should not shuffle into a window")
    assert(p.contains("partial"), "TopK aggregator should plan a partial phase")
  }

  test("sort+limit fuses to TakeOrderedAndProject (no global sort for top-k)") {
    assert(plan("q_limit").contains("TakeOrderedAndProject"))
  }

  test("partitioned read prunes at file-listing time (PartitionFilters)") {
    val p = plan("q_partitioned_scan")
    assert(p.contains("PartitionFilters: [isnotnull(o_year"),
      "partition-column filter should resolve at listing time, not as a data filter")
    assert(p.contains("(o_year") && p.contains("1995"),
      "the year predicate should appear as a partition filter")
  }

  test("IVF probe against the partitioned store prunes to the probed lists") {
    val p = plan("q_ann_ivf_pruned")
    assert(p.contains("PartitionFilters: [centroid_id"),
      "probe-set IN filter should resolve at listing time on the store")
  }

  test("IVF assign at k=512 still whole-stage-codegens within JIT limits") {
    // At IVF-realistic k the greatest-literal tree would generate O(k·dim)
    // code and blow past the JIT (8KB) / javac (64KB) method limits,
    // silently dropping to interpreted eval; the NearestCentroid kernel
    // keeps generated code O(1) in k. Assert the compiled stage's biggest
    // method stays far under the JIT threshold.
    val r = new scala.util.Random(7)
    def vec() = Array.fill(16)((r.nextDouble() * 2 - 1).toFloat).toSeq
    // read the parquet DIRECTLY (not Tables.load): the test measures the
    // generated-code size of the assign expression, and the scale-adaptive
    // scan spread would wrap the plan in AQE where codegen stages only
    // materialize per query stage — orthogonal to what is asserted here
    val corpus = spark.read.parquet(s"$dir/embeddings.parquet")
    val cents = (0 until 512).map(i => (i, vec())).toArray
    val assigned = graft.similarity.Ivf.assignTo(cents, corpus, "vec_id", "embedding")
    val exec = assigned.queryExecution.executedPlan
    assert(exec.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]))
    val stats = org.apache.spark.sql.execution.debug.codegenStringSeq(exec)
    assert(stats.nonEmpty)
    stats.foreach { case (_, _, s) =>
      assert(s.maxMethodCodeSize < 8000,
        s"generated method ${s.maxMethodCodeSize}B exceeds the JIT limit")
    }
    assert(assigned.count() > 0) // and it runs end to end
  }

  test("PreAggGroupingSets: rollup/cube expand pre-aggregated rows, not the fact table") {
    for (q <- Seq("q_rollup", "q_cube")) {
      val opt = SparkEntry.queries(q)(spark, dir).queryExecution.optimizedPlan
      val expands = opt.collect {
        case e: org.apache.spark.sql.catalyst.plans.logical.Expand => e
      }
      assert(expands.nonEmpty, s"$q should still plan an Expand")
      assert(expands.forall(_.child.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.Aggregate]),
        s"$q: Expand's child must be the injected partial Aggregate")
      assert(opt.toString.contains("_pre0"))
    }
    // guard: a query with DISTINCT aggregates must NOT be rewritten
    val d = SparkEntry.queries("q_agg_distinct")(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(!d.contains("_pre0"))
  }

  test("round-5 additions stay shuffle-sane: no cartesian products") {
    // BroadcastNestedLoopJoin with a 1-row broadcast (totals/stats/rank
    // lists) is fine; CartesianProduct is not
    for (q <- Seq("q_knn_graph", "q_rrf_hybrid", "q_pmi", "q_funnel",
        "q_cohort", "q_histogram", "q_heavy_hitters", "q_trustrank")) {
      assert(!plan(q).contains("CartesianProduct"),
        s"$q plans a CartesianProduct")
    }
  }

  test("funnel/cohort/histogram never plan a data-sized global window") {
    for (q <- Seq("q_funnel", "q_cohort", "q_histogram"))
      assert(!plan(q).contains("Window"), s"$q plans a Window")
  }

  test("q_dpp: the fact scan carries a dynamic (join-driven) partition filter") {
    val p = plan("q_dpp")
    assert(p.contains("dynamicpruning"),
      "fact scan should carry a dynamicpruningexpression PartitionFilter")
  }

  test("knn graph blocks by centroid: equi-join, k-bounded aggregation") {
    val p = plan("q_knn_graph")
    assert(p.contains("centroid_id"))
    assert(p.contains("TopK") || p.contains("topk"),
      "per-query results should come from the k-bounded TopK aggregate")
  }

  test("expectations run as one aggregate pass per table + anti-join-shaped FK") {
    val p = plan("q_expectations")
    // single-scan proof: lineitem and orders are each read once (the FK
    // check reuses the same two tables, so <= 2 lineitem + 2 orders scans
    // total across the union), and no cartesian anywhere
    assert(!p.contains("CartesianProduct"))
    assert("lineitem\\.parquet".r.findAllIn(p).size <= 2,
      "lineitem should be scanned once for checks + once for the FK probe")
    assert(p.contains("partial_sum"), "violation counts must map-side combine")
  }

  test("table diff is one key-partitioned join, no window, no cartesian") {
    val p = plan("q_table_diff")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      "big-big snapshot diff should be a shuffle join on the key")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"))
  }

  test("incremental agg merge stays a pure aggregate pipeline") {
    val p = plan("q_incremental_agg")
    assert(!p.contains("Join"), "state merge is a union+agg, never a join")
    assert(p.contains("partial_sum"))
  }

  test("CMS estimate joins the bounded sketch via broadcast") {
    assert(plan("q_cms").contains("BroadcastHashJoin"),
      "the d*w sketch table should broadcast to the probe join")
  }

  test("phash near-dup is a band equi-join with pruned payload read") {
    val p = plan("q_media_phash")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "only id+payload source columns should be read")
  }

  test("this session's additions stay shuffle-sane") {
    // 1-row broadcast nested loops (totals, A/B arms) are fine;
    // CartesianProduct never is
    for (q <- Seq("q_decay", "q_novelty", "q_rank_ensemble",
        "q_html_extract", "q_wilson", "q_kanon", "q_mrr", "q_join_size",
        "q_mix_weights", "q_cusum", "q_clustering_coef",
        "q_incremental_join", "q_ab_lift", "q_sorted_neighborhood",
        "q_keywords", "q_dedup_report", "q_scd_lookup",
        "q_simhash_calibration", "q_negative_edges", "q_mean_pool",
        "q_prototype_accuracy", "q_embed_drift", "q_event_pattern",
        "q_winsorize", "q_lang_confusion", "q_basket_pairs",
        "q_seasonal_residual", "q_feature_hash", "q_split_balance",
        "q_budget_select", "q_kappa", "q_reciprocity",
        "q_reagg_cascade", "q_attribution")) {
      assert(!plan(q).contains("CartesianProduct"),
        s"$q plans a CartesianProduct")
    }
  }

  test("round-7 late additions stay shuffle-sane and pruned") {
    for (q <- Seq("q_winnow", "q_sql_winnow", "q_dp_release",
        "q_bpe_encode", "q_label_prop", "q_rendezvous", "q_calibration",
        "q_jl_project"))
      assert(!plan(q).contains("CartesianProduct"),
        s"$q plans a CartesianProduct")
    // JL projection is a pure narrow map: the candidate filter must land
    // in the scan, and the 64x16 fold must not introduce a shuffle
    val jl = plan("q_jl_project")
    assert(jl.contains("PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,50)]"))
    // DP release reads only the group column
    assert(plan("q_dp_release").contains("ReadSchema: struct<source:string>"))
    // rendezvous is a narrow map + one grouped aggregate: no join at all
    val rv = plan("q_rendezvous")
    assert(!rv.contains("Join"), "rendezvous must not join")
  }

  test("new rank/sequence windows all declare a partition key") {
    // every Window in these plans must carry a non-empty PARTITION BY —
    // an unpartitioned window serializes the corpus through one task
    for (q <- Seq("q_decay", "q_rank_ensemble", "q_cusum",
        "q_sorted_neighborhood", "q_keywords")) {
      val p = plan(q)
      val specs = "windowspecdefinition\\(([^)]*)\\)".r
        .findAllMatchIn(p).map(_.group(1)).toSeq
      assert(specs.nonEmpty, s"$q should plan window functions")
      specs.foreach { s =>
        // spec args: partition cols..., order cols..., frame; an
        // unpartitioned spec starts directly with the sort order
        assert(!s.trim.startsWith("ASC") && !s.trim.startsWith("DESC") &&
          s.split(",").length >= 3, s"$q window spec unpartitioned: $s")
      }
    }
  }

  test("html extraction is a pure narrow map over a pruned scan") {
    val p = plan("q_html_extract")
    assert(!p.contains("Exchange") || p.indexOf("Exchange") ==
      p.lastIndexOf("Exchange"), // at most the final sort's exchange
      "per-row extraction must not introduce extra shuffles")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "kernel input should prune to id+text")
  }

  test("IVM delta joins broadcast the delta side, never cartesian") {
    val p = plan("q_incremental_join")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"))
  }

  private def physPlan(df: org.apache.spark.sql.DataFrame) =
    graft.tools.PlanAudit.physicalPlan(df)

  test("distinctExchangeCount: cached-plan reader branches count exchanges once") {
    // persisted-model fixture: one cached aggregate (1 shuffle exchange
    // inside the cached plan) scanned by THREE reader branches, then one
    // outer re-aggregation (1 more exchange). toString counts the cached
    // exchange once per InMemoryTableScan occurrence — the artifact that
    // had q_kn_trigram_ppl reporting 134 where the executed plan has 8
    // (VERDICT r10 #6); the distinct-plan-id count must see exactly 2.
    val model = spark.range(0, 1000)
      .select((col("id") % 7).as("k"))
      .groupBy("k").count()
      .persist()
    try {
      model.count() // materialize the cache
      // outer grouping on a DERIVED key: the cache's hash(k) partitioning
      // cannot satisfy it, so the outer aggregate keeps its own exchange
      // (grouping on k itself lets Spark 4 reuse the cached partitioning
      // and elide the shuffle entirely — a correct 1-exchange plan)
      val out = model.union(model).union(model)
        .groupBy((col("k") + 1).as("k2")).agg(sum(col("count")).as("n"))
      out.collect() // executed: AQE stages materialized
      val phys = physPlan(out)
      val distinct = graft.tools.PlanAudit.distinctExchangeCount(phys)
      assert(distinct == 2, s"expected 2 distinct exchanges, got $distinct")
      // the toString artifact over-reports (>= one cached-plan re-print
      // per reader branch) — the exact failure the distinct count fixes
      val toStringCount = "Exchange".r.findAllIn(phys.toString).length
      assert(toStringCount > distinct,
        s"fixture lost its re-print shape: $toStringCount vs $distinct")
    } finally model.unpersist(blocking = false)
  }

  test("SinglePartition detector flags a deliberately-injected global window") {
    import org.apache.spark.sql.expressions.Window
    val li = graft.engine.Tables.load(spark, dir, "lineitem")
    val bad = li.withColumn("rn",
      row_number().over(Window.orderBy(col("l_orderkey"))))
    val v = graft.tools.PlanAudit.singlePartitionViolations(physPlan(bad))
    assert(v.nonEmpty, "global row_number window must be flagged")
    // the funnel surfaces as the exchange feeding the window's local Sort
    assert(v.exists(m => m.contains("Sort") || m.contains("Window")),
      v.mkString("; "))
    // coalesce(1) feeding further work is the same funnel
    val rep = li.repartition(1).groupBy("l_returnflag").count()
    // (repartition(1) is RoundRobin(1), not SinglePartition — but a global
    // sort buffered into one partition is) — orderBy into a window:
    val bad2 = li.orderBy("l_orderkey").withColumn("rn",
      row_number().over(Window.orderBy(col("l_orderkey"))))
    assert(graft.tools.PlanAudit
      .singlePartitionViolations(physPlan(bad2)).nonEmpty)
    assert(rep.count() >= 0) // keep rep referenced; not part of the gate
  }

  test("SinglePartition detector: codegen wrappers are transparent on non-AQE plans") {
    // AQE-off session: exchanges sit under WholeStageCodegen/InputAdapter,
    // so consumer identification must skip the wrappers — an ungrouped
    // final aggregate is still bounded, a global window still flags
    val ns = spark.newSession()
    ns.conf.set("spark.sql.adaptive.enabled", "false")
    val li = ns.read.parquet(s"$dir/lineitem.parquet")
    val agg = li.agg(sum(col("l_quantity")))
    assert(graft.tools.PlanAudit.singlePartitionViolations(
      graft.tools.PlanAudit.physicalPlan(agg)).isEmpty,
      "codegen-wrapped ungrouped final agg must not false-flag")
    import org.apache.spark.sql.expressions.Window
    val bad = li.withColumn("rn",
      row_number().over(Window.orderBy(col("l_orderkey"))))
    assert(graft.tools.PlanAudit.singlePartitionViolations(
      graft.tools.PlanAudit.physicalPlan(bad)).nonEmpty,
      "global window must flag with AQE off too")
  }

  test("SinglePartition detector sees through AQE query stages after execution") {
    // once a DataFrame has EXECUTED under AQE, exchanges are wrapped in
    // leaf ShuffleQueryStageExec nodes — the detector must unwrap them or
    // an already-run plan audits clean no matter what it contains
    import org.apache.spark.sql.expressions.Window
    val li = graft.engine.Tables.load(spark, dir, "lineitem")
    val bad = li.withColumn("rn",
      row_number().over(Window.orderBy(col("l_orderkey"))))
    bad.write.format("noop").mode("overwrite").save() // materialize stages
    val v = graft.tools.PlanAudit.singlePartitionViolations(physPlan(bad))
    assert(v.nonEmpty, "executed global window must still be flagged")
    // bounded shapes stay clean after execution too
    val agg = li.agg(sum(col("l_quantity")))
    agg.write.format("noop").mode("overwrite").save()
    assert(graft.tools.PlanAudit
      .singlePartitionViolations(physPlan(agg)).isEmpty,
      "executed ungrouped final agg must not false-flag through AQE wrappers")
  }

  test("SinglePartition detector allows bounded shapes: ungrouped agg, top-k, and the fixed q_vocab_coverage") {
    val li = graft.engine.Tables.load(spark, dir, "lineitem")
    val agg = li.agg(sum(col("l_quantity")))
    assert(graft.tools.PlanAudit
      .singlePartitionViolations(physPlan(agg)).isEmpty,
      "ungrouped final aggregate over partial-agg rows is bounded")
    val topk = li.orderBy(col("l_extendedprice").desc).limit(10)
    assert(graft.tools.PlanAudit
      .singlePartitionViolations(physPlan(topk)).isEmpty,
      "TakeOrderedAndProject top-k is bounded")
    val vc = SparkEntry.queries("q_vocab_coverage")(spark, dir)
    assert(graft.tools.PlanAudit
      .singlePartitionViolations(physPlan(vc)).isEmpty,
      "q_vocab_coverage must stay free of unbounded single-partition exchanges")
  }

  test("a column-pruned lineitem scan is never the broadcast build side at sf0.1") {
    // Spark estimates a scan's size from its share of the compressed file;
    // lineitem's pruned q3/q5 scans decode to ~9x that estimate, and at the
    // default factor of 1 they fell under the broadcast threshold. At
    // sf0.001 broadcasting lineitem is the right plan, hence sf0.1.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val big = java.nio.file.Paths.get(dir).resolveSibling("sf0.1").toString
    try {
      // registering the tables reads their schemas with a job; planning
      // the queries must not start another
      graft.engine.Context.forSfDir(spark, big)
      val (plans, rec) = graft.engine.Stages.record(spark) {
        Seq("q_tpch_q3", "q_tpch_q5").map(q =>
          q -> physPlan(SparkEntry.queries(q)(spark, big)))
      }
      assert(rec.jobs.isEmpty, "planning must not run jobs")
      for ((q, p) <- plans) {
        val builds = p.collect { case b: BroadcastExchangeExec => b }
        assert(builds.nonEmpty, s"$q broadcasts no dimension at all")
        val scansLineitem = builds.filter(_.exists {
          case scan: FileSourceScanExec =>
            scan.relation.location.rootPaths.exists(_.getName == "lineitem.parquet")
          case _ => false
        })
        assert(scansLineitem.isEmpty, s"$q broadcasts lineitem:\n$p")
      }
    } finally graft.engine.Context.forSfDir(spark, dir)
  }
}
