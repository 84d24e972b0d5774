package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{Context, Stages}

/** sf1-scale skew stress for the dedup spine (VERDICT r4 item 5).
  *
  * The driver corpus tops out at sf0.1 (5k documents), so this tool
  * DERIVES a 10x stress corpus in /tmp: replica 0 is the original
  * document set; replicas 1..9 append a per-replica marker token so the
  * copies are near- (not exact-) duplicates — every original becomes a
  * 10-member near-dup cluster, which multiplies candidate-pair volume
  * ~100x inside exactly the shared buckets where skew lives. Stress
  * corpus for plan-shape + runtime-skew measurement only; correctness
  * oracles stay at the driver scale factors.
  *
  * Each pipeline runs in its SCALE configuration (library-default hot
  * bucket caps) — the contract queries deliberately uncap
  * (maxBucketSize=100000, maxDocFreq=200-uncapped) so their O(n²) DuckDB
  * twins stay exact, which is the oracle trade, not the production one.
  * Reported per query (successful tasks only, from `Stages.record`):
  * wall seconds, rows, task count, spill, and the
  * worst-stage skew = max/median task runtime within the heaviest
  * stages (stages with >= 2 s of total task time; tiny-task stages say
  * nothing about skew). SCALE.md gate: worst-stage max <= 4x median.
  *
  * Usage: runMain graft.tools.ScaleStress [factor] [pipeline1,...] [repCap]
  * The optional second arg restricts the run to the named pipelines —
  * the 100x second-decade spot-run uses it to drive just the heavy
  * dedup spines without paying for the whole matrix at 500k docs.
  * The ANN pipelines (ivf_train_scaled, ivf_append, pq_encode,
  * knn_graph_auto, knn_graph_fixed_priced) run on a separately-built
  * jittered-replica embeddings corpus and ONLY when named explicitly;
  * an ANN-only run skips the documents corpus build entirely.
  *
  * `repCap` (default = factor) bounds the NEAR-DUP CLUSTER SIZE: the
  * factor splits into repCap near-dup replicas x (factor/repCap) content
  * shards whose text is letter-rotated per shard (length-preserving, so
  * n_chars stays honest) — shingles touching the rotation set differ
  * across shards, so shards rarely share minhash/ngram buckets (shingles
  * of digits/punctuation/unrotated letters CAN coincide: verify the
  * output-row linearity on a new corpus before trusting the
  * constant-cluster premise). Default (repCap = factor)
  * reproduces the historical all-one-clique corpus, where candidate-pair
  * volume grows QUADRATICALLY in the factor — the adversarial shape; at
  * factor 100 its verify join must move ~25M pairs x two shingle arrays
  * (~200 GB), past this single node's free disk (measured: graceful
  * spill to ENOSPC, no OOM, no skew — a cluster's aggregate disk
  * absorbs it). `repCap = 10` holds the dup structure constant while
  * the corpus scales — the realistic second-decade experiment: engine
  * cost should scale LINEARLY with the corpus when the data's dup
  * profile doesn't change.
  */
object ScaleStress {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val only: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").toSet) else None
    val repCap = if (args.length > 2) args(2).toInt else factor
    require(factor % repCap == 0,
      s"factor $factor must be a multiple of repCap $repCap")
    val srcDir = "/root/testdata/sf0.1"
    val outDir = "/tmp/graft_sfstress"
    val spark = Context.session(s"local[${Context.cpus}]", Context.cpus)
    spark.sparkContext.setLogLevel("WARN")

    // ANN pipelines run on a separately-built embeddings stress corpus:
    // skip the (expensive) documents corpus entirely on an ANN-only run
    val annNames = Set("ivf_train_scaled", "ivf_append", "pq_encode",
      "knn_graph_auto", "knn_graph_fixed_priced", "ann_drift_gate",
      "ann_drift_sampled", "lifecycle_decade", "lifecycle_decade_pq")
    val docsNeeded = only.forall(_.exists(n => !annNames.contains(n)))

    val marker = new java.io.File(s"$outDir/.factor_${factor}_rep$repCap")
    if (docsNeeded && !marker.exists()) {
      // every config writes the SAME documents.parquet: clear sibling
      // markers so a later run of a previously-built config can't
      // silently reuse THIS config's corpus as its own evidence
      Option(new java.io.File(outDir).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith(".factor_")).foreach(_.delete())
      val docs = spark.read.parquet(s"$srcDir/documents.parquet")
      val n = docs.count()
      val nShards = factor / repCap
      // per-shard letter rotation: length-preserving text rewrite under
      // which any shingle touching the rotation set differs across
      // shards, so cross-shard docs rarely share a candidate bucket
      // (cluster size ≈ repCap; see the scaladoc caveat on shingles of
      // unrotated characters). Shard 0 is the identity — replica (0, 0)
      // IS the original corpus.
      // a 10-letter rotation set gives nShards <= 10 DISTINCT mappings
      // (a 5-vowel set would alias shard s with shard s+5)
      val alpha = "aeiousnrtl"
      require(nShards <= alpha.length,
        s"at most ${alpha.length} content shards supported, got $nShards")
      def rot(s: Int): String = alpha.drop(s) + alpha.take(s)
      def sharded(c: org.apache.spark.sql.Column) =
        (1 until nShards).foldLeft(when(col("shard") === 0, c)) { (acc, s) =>
          acc.when(col("shard") === s, translate(c, alpha, rot(s)))
        }
      val withShardText = docs.crossJoin(
          spark.range(factor).select(
            (col("id") % repCap).as("rep"),
            expr(s"id div $repCap").as("shard")))
        .withColumn("__sh_text",
          if (nShards == 1) col("text") else sharded(col("text")))
        .select(
          (col("doc_id") + (col("shard") * repCap + col("rep")) * n)
            .as("doc_id"),
          when(col("rep") === 0, col("__sh_text"))
            .otherwise(concat(col("__sh_text"), lit(" rep"), col("rep")))
            .as("text"),
          col("lang"), col("source"), col("n_chars"))
      withShardText.repartition(32).write.mode("overwrite")
        .parquet(s"$outDir/documents.parquet")
      new java.io.File(outDir).mkdirs()
      marker.createNewFile()
      println(s"[stress] built ${n * factor}-doc corpus at $outDir " +
        s"($repCap-member clusters x $nShards shards)")
    }

    import graft.dedup.Dedup
    // lazy: an ANN-only run (docsNeeded=false) must not read the
    // documents stress corpus, which may not exist
    lazy val docs = spark.read.parquet(s"$outDir/documents.parquet")
    lazy val docs24 = docs.select(col("doc_id"), substring(col("text"), 1, 24).as("k"))
    def pairsDefault = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5)
    val pipelines: Seq[(String, () => DataFrame)] = Seq(
      "minhash_verified" -> (() => Dedup.minhashVerifiedPairs(docs, threshold = 0.7)),
      // second-decade configuration: the 500k-doc corpus REPLICATES the
      // base corpus's naturally-hot minhash bands (boilerplate-like docs
      // sharing whole bands) ~100x, so in-bucket pair volume grows
      // quadratically — 2.83e9 raw / 3.7e8 under the default cap of
      // 1000 (2026-08-15; `Dedup.estimateMinhashCandidates` computes the
      // capped figure), whose verify join moves
      // Θ(pairs x shingle bytes) ≈ 0.5 TB: fine spread over a cluster,
      // past one node's disk. The scale knob is the hot-bucket cap —
      // 64 keeps every true 10-member clique bucket intact while
      // bounding boilerplate-glued buckets (4.4e7 pre-dedup pair rows).
      "minhash_scale64" -> (() => Dedup.minhashVerifiedPairs(docs,
        threshold = 0.7, maxBucketSize = 64)),
      "fuzzy_join" -> (() => Dedup.editDistancePairs(docs24, "k", "doc_id", maxDist = 2)),
      "dedup_best" -> (() => Dedup.nearDupSurvivorsBy(docs, pairsDefault, col("n_chars"))),
      "dedup_survivors" -> (() => Dedup.nearDupSurvivors(docs, pairsDefault)),
      "incremental_near" -> (() => Dedup.minhashNewOnly(
        docs.filter(col("source") === "src0"),
        docs.filter(col("source") =!= "src0"), threshold = 0.7)),
      // SYNTHETIC HOT BAND (VERDICT r12 #8): one document cloned 5000x
      // (ids shifted past the corpus) collides on EVERY band, handing
      // each of the 16 band buckets 5000 members — 5x the default cap,
      // ~2e8 would-be candidate pairs from one key. dropHotBuckets must
      // drop those buckets wholesale (they are boilerplate by
      // construction; the contract routes them to exact dedup), so the
      // wall and the worst-stage max/median skew must stay at
      // minhash_verified's own level — a hot band surviving the cap
      // would show up here as a single straggler task enumerating the
      // clone family's pairs.
      "minhash_hotband" -> (() => {
        val one = docs.orderBy("doc_id").limit(1)
          .select(col("text"), col("lang"), col("source"), col("n_chars"))
        val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
        val clones = one.crossJoin(spark.range(5000))
          .select((col("id") + maxId + 1L).as("doc_id"), col("text"),
            col("lang"), col("source"), col("n_chars"))
        Dedup.minhashVerifiedPairs(docs.unionByName(clones),
          threshold = 0.7)
      })
    )

    def measure(name: String, mk: () => DataFrame): Unit = {
      if (!only.forall(_.contains(name))) return
      val ((rows, wall), rec) = Stages.record(spark) {
        val t0 = System.nanoTime()
        val rows = mk().count()
        (rows, (System.nanoTime() - t0) / 1e9)
      }
      graft.engine.Context.isolate(spark)
      // stages with >= 2 s total task time carry the real work; report
      // the worst max/median ratio among them
      val ranked = rec.stages.map(st => (st, st.tasks.map(_.durationMs).sorted))
        .filter(_._2.sum >= 2000).map { case (st, ds) =>
          val med = math.max(1L, ds(ds.size / 2))
          (ds.last.toDouble / med, ds.last, med, ds.size, st)
        }.sortBy(-_._1)
      val w = ranked.headOption.map { case (r, mx, md, nt, _) =>
        f"$r%6.2fx  (max $mx%6d / med $md%5d over $nt%4d tasks)"
      }.getOrElse("no stage >= 2s")
      val sm = rec.stages.map(_.memorySpilled).sum
      val sd = rec.stages.map(_.diskSpilled).sum
      println(f"$name%-18s $wall%8.2f $rows%9d ${rec.tasks}%7d ${sm / 1e6}%9.1f ${sd / 1e6}%9.1f  $w")
      // attribution for anything past the 4x gate: name the offending
      // stages (the stage name carries the callsite) so a flagged ratio
      // is diagnosable from the log instead of needing a re-run
      ranked.takeWhile(_._1 > 4.0).take(3).foreach {
        case (r, mx, md, nt, st) =>
          val nm = st.name.takeWhile(_ != '\n').take(90)
          println(f"  [skew>4x] stage ${st.id}: $r%5.2fx max=$mx%6d med=$md%5d " +
            f"tasks=$nt%4d  $nm")
      }
    }

    println(f"${"pipeline"}%-18s ${"wall_s"}%8s ${"rows"}%9s ${"tasks"}%7s ${"spillM_MB"}%9s ${"spillD_MB"}%9s ${"worst-stage max/med (ms, tasks)"}")
    pipelines.foreach { case (name, mk) => measure(name, mk) }

    if (docsNeeded) {
    // graph family at the same 10x node count (50k nodes, 150k directed
    // edges: ring + skip + affine — same generator family as the
    // contract queries, so the plan shapes match what PLANS.md audits)
    val nNodes = docs.count()
    val nodes = docs.select(col("doc_id").as("node_id"))
    val id = col("doc_id")
    val edges = docs.select(id.as("src"), ((id + 1) % nNodes).as("dst"))
      .union(docs.select(id.as("src"), ((id + 2) % nNodes).as("dst")))
      .union(docs.select(id.as("src"), ((id * 7 + 3) % nNodes).as("dst")))
    val seeds = nodes.filter(col("node_id") < 2)
    val graphPipelines: Seq[(String, () => DataFrame)] = Seq(
      "pagerank_3it" -> (() =>
        graft.graph.PageRank.run(nodes, edges, nNodes, iters = 3)),
      "trustrank_3it" -> (() =>
        graft.graph.PageRank.personalizedRun(nodes, edges, seeds, 2, 3)),
      "bfs_4hop" -> (() => graft.graph.Bfs.hops(edges, seeds, 4)),
      "triangles" -> (() => graft.graph.Triangles.perNode(edges))
    )
    graphPipelines.foreach { case (name, mk) => measure(name, mk) }

    // round-5 late additions: the session's heaviest new operators at
    // the same 10x corpus (50k docs / 50k-node graph)
    val embPath = s"$srcDir/embeddings.parquet"
    val emb = spark.read.parquet(embPath)
    val latePipelines: Seq[(String, () => DataFrame)] = Seq(
      "sorted_neighborhood" -> (() =>
        Dedup.sortedNeighborhoodPairs(docs, windowSize = 4)),
      "novelty_rate" -> (() =>
        graft.functions.Text.noveltyRate(docs, n = 3)),
      "simhash_calibration" -> (() =>
        Dedup.simhashCalibration(docs, maxHamming = 3)),
      "clustering_coef" -> (() =>
        graft.graph.Triangles.clusteringCoefficient(edges)),
      "keywords_top3" -> (() =>
        graft.functions.Text.topTerms(docs, k = 3)),
      "mean_pool" -> (() =>
        graft.similarity.Pooling.meanByGroup(emb, "label", "embedding",
          "vec_id"))
    )
    latePipelines.foreach { case (name, mk) => measure(name, mk) }

    // round-6 additions: the rank-selection spine and the
    // vocabulary-postings join at the same 10x corpus
    val r6Pipelines: Seq[(String, () => DataFrame)] = Seq(
      "trimmed_mean" -> (() => graft.operators.Analytics
        .trimmedMean(docs, Seq("lang"), "n_chars", trim = 0.05)),
      "rank_spine" -> (() => graft.operators.Analytics
        .rankedByGroup(docs, Nil, "n_chars")),
      "vocab_overlap" -> (() => {
        val toks = docs.select(col("source"),
            explode(split(col("text"), "\\s+")).as("tok"))
          .filter(col("tok") =!= "").distinct()
        toks.select(col("source").as("src_a"), col("tok"))
          .join(toks.select(col("source").as("src_b"), col("tok")),
            Seq("tok"))
          .filter(col("src_a") =!= col("src_b"))
          .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
      })
    )
    r6Pipelines.foreach { case (name, mk) => measure(name, mk) }
    }

    // -------------------------------------------------------- ANN spines
    // Second-decade stress for the ANN family (VERDICT r8 item 3): the
    // 2,000-vector sf0.1 embeddings table replicated `factor`x with a
    // deterministic per-replica jitter (±0.009 per dimension — small
    // against unit-scale embeddings, so every replica stays in its
    // original's cluster region: cluster STRUCTURE constant while the
    // corpus grows a decade or two, the same premise as the repCap dedup
    // corpus). vec_ids shift by replica so joins/stores stay keyed.
    if (only.exists(_.exists(annNames.contains))) {
      import graft.similarity.{Ivf, Pq}
      val embSrc = s"$srcDir/embeddings.parquet"
      val embOut = s"$outDir/embeddings.parquet"
      val embMarker = new java.io.File(s"$outDir/.emb_factor_$factor")
      if (!embMarker.exists()) {
        Option(new java.io.File(outDir).listFiles()).getOrElse(Array.empty)
          .filter(_.getName.startsWith(".emb_factor_")).foreach(_.delete())
        val base = spark.read.parquet(embSrc)
        val nVec = base.count()
        base.crossJoin(spark.range(factor).select(col("id").as("rep")))
          .select(
            (col("vec_id") + col("rep") * nVec).as("vec_id"),
            // replica 0 is the ORIGINAL corpus (the dedup-corpus rule)
            expr("transform(embedding, (x, i) -> CAST(x + if(rep = 0, " +
              "0.0, ((rep * 37 + i * 11) % 19 - 9) * 0.001) AS FLOAT))")
              .as("embedding"),
            col("label"))
          .repartition(32).write.mode("overwrite").parquet(embOut)
        new java.io.File(outDir).mkdirs()
        embMarker.createNewFile()
        println(s"[stress] built ${nVec * factor}-vector embedding corpus at $embOut")
      }
      val emb = spark.read.parquet(embOut)
      val nVec = emb.count()
      // scale-path cell count: ceil(n/256) — 782 cells at 200k vectors,
      // which crosses GreatestMaxK and exercises the NearestCentroid
      // kernel assignment exactly as a production IVF would
      val cellsScaled = ((nVec + 255) / 256).toInt
      // materialize the trained centroids as a DRIVER-LOCAL relation
      // (cells-sized, tiny): a persist/localCheckpoint would be evicted
      // by measure()'s between-pipeline cleanup and re-run the
      // full-corpus assignment fold on every downstream use
      lazy val centsScaled = {
        val trained = Ivf.train(emb, k = cellsScaled, iters = 1)
        val local = trained.collect()
        spark.createDataFrame(java.util.Arrays.asList(local: _*), trained.schema)
      }
      val storeDir = s"$outDir/ivf_store"

      // the full lifecycle loop at scale (VERDICT r10 #7), shared by the
      // raw-store decade and the IVFADC-triple decade (r12): the ONLY
      // difference is whether the base publish carries a PqSpec — the
      // ingest, audit, retrain, compaction, and vacuum paths are the
      // same code either way, which is the point (the triple rides the
      // lifecycle, it doesn't get its own).
      def lifecycleDecade(pq: Option[graft.similarity.PqSpec])
          : org.apache.spark.sql.DataFrame = {
        import spark.implicits._
        // the healthy-cycle contract (duplicate wave co-locates with
        // its jittered replica family) holds at the production cell
        // geometry (~n/256 cells; measured 1.0 at 30x/100x) but not
        // at 10x's 79-cell toy geometry — gate the run
        require(factor >= 30,
          s"lifecycle_decade needs the >=30x cell geometry: $factor")
        val fsH = org.apache.hadoop.fs.FileSystem.get(
          spark.sparkContext.hadoopConfiguration)
        val root = s"$outDir/ivf_lifecycle"
        fsH.delete(new org.apache.hadoop.fs.Path(root), true)
        // the base version indexes the WHOLE current corpus (the
        // q_stream_reindex shape): the families every in-distribution
        // audit query belongs to are fully represented, which is what
        // keeps the healthy audit at ~1.0 (a 90%-resident-trained
        // quantizer measurably breaks family co-location here:
        // cycle-1 recall 0.66 on the 30x probe)
        val resident = emb.select(col("vec_id"), col("embedding"))
        val tB = System.nanoTime()
        Ivf.writeVersionedIndex(resident, k = cellsScaled, root, pq = pq)
        println(f"[stress] lifecycle base publish: " +
          f"${(System.nanoTime() - tB) / 1e9}%7.1f s " +
          f"(${resident.count()} vectors, $cellsScaled cells" +
          pq.map(s => s", pq m=${s.m} k=${s.k}").getOrElse("") + ")")
        // sample sized so each query's replica family keeps ~10
        // members in-sample (pct >= 1000/F) — via the in-code sizing
        // primitive with minSampleRows = 10 rows per distinct family
        // (VERDICT r11 #7), not the former hand-rolled prose rule
        val samplePct = Ivf.autoSamplePct(nVec,
          minSampleRows = 10L * (nVec / factor))
        def ingestLayers(v: Long): Int =
          fsH.listStatus(new org.apache.hadoop.fs.Path(s"$root/v=$v/store"))
            .count(_.getPath.getName.startsWith("ingest="))
        def codeLayers(v: Long): Int =
          fsH.listStatus(new org.apache.hadoop.fs.Path(s"$root/v=$v/codes"))
            .count(_.getPath.getName.startsWith("ingest="))
        val rows = (1 to 3).map { c =>
          val tC = System.nanoTime()
          // cycles 1-2: in-distribution ingest (duplicates of the
          // %30==c corpus slice under fresh ids — measured recall
          // 1.0/1.0/0.88 at full/33%/10% samples on the 30x probe).
          // cycle 3: a REVERSED copy of the original base vectors —
          // one per replica family, so the re-encoded wave has no
          // internal near-dup structure to hide in (reversed families
          // co-locate and DON'T trip the gate: measured 0.72) —
          // probe-measured 0.44/0.38/0.24, firing at every sample size
          val wave =
            if (c == 3) emb.filter(col("vec_id") < nVec / factor)
              .select((col("vec_id") + 300000000L).as("vec_id"),
                expr("reverse(embedding)").as("embedding"))
            else emb.filter(col("vec_id") % 30 === c)
              .select((col("vec_id") + c * 100000000L).as("vec_id"),
                col("embedding"))
          val v = Ivf.indexVersion(spark, root)
          val cents = Ivf.localizeCentroids(
            spark.read.parquet(s"$root/v=$v/centroids"))
          // raw rows + (on a PQ root) the batch's codes, both under
          // idempotent ingest keys — identical to writeBatchToStore
          // when no _pq is present
          Ivf.writeBatchToVersion(spark, root, v, wave, c.toLong, cents)
          val qs = Ivf.localizeCentroids(wave.orderBy("vec_id").limit(10)
            .select(col("vec_id").as("query_id"),
              col("embedding").as("query_vec")).toDF())
          val (vAfter, recall) = Ivf.reindexIfDriftedSampled(spark, root,
            qs, k = 5, nprobe = 2, floor = 0.8, samplePct = samplePct,
            kCents = cellsScaled)
          val retrained = vAfter > v
          // compaction is THRESHOLDED, as in production: fold only a
          // store that actually has streamed layers — a just-retrained
          // version is already single-base and folding it is a no-op
          val (fBefore, fAfter) =
            if (ingestLayers(Ivf.indexVersion(spark, root)) > 1) {
              val (_, b, a) = Ivf.compactVersion(spark, root)
              require(a < b, s"compaction must shrink the store: $b -> $a")
              (b, a)
            } else (0, 0)
          val vacuumed = Ivf.vacuumVersions(spark, root, keepN = 2)
          val nDirs = fsH.listStatus(new org.apache.hadoop.fs.Path(root))
            .count(_.getPath.getName.startsWith("v="))
          // on a PQ root the triple must ride every cycle: the newest
          // version still carries the spec (retrains refresh the
          // codebooks under it), the code store folded with the vector
          // store (compaction/retrain leave it single-base), and the
          // memory-compressed ADC probe serves — timed, because this
          // is the production serving shape the decade exists to price
          val adcWall = pq.map { _ =>
            val newest = Ivf.indexVersion(spark, root)
            require(Ivf.readPqSpec(spark, root, newest).nonEmpty,
              s"v=$newest lost the PQ spec mid-lifecycle")
            require(codeLayers(newest) == ingestLayers(newest),
              "code store layers must track the vector store's")
            val tA = System.nanoTime()
            val n = Ivf.ivfAdcTopKFromVersioned(spark, root, qs,
              k = 5, nprobe = 2).count()
            require(n > 0, "the versioned ADC probe must serve")
            (System.nanoTime() - tA) / 1e9
          }
          val wall = (System.nanoTime() - tC) / 1e9
          println(f"[stress] lifecycle cycle $c: wall=$wall%7.1f s " +
            f"recall@5=$recall%.4f (pct=$samplePct) retrained=$retrained " +
            f"v=${Ivf.indexVersion(spark, root)} files $fBefore->$fAfter " +
            f"dirs=$nDirs vacuumed=${vacuumed.size}" +
            adcWall.map(w => f" adc_probe=$w%.1f s").getOrElse(""))
          require(nDirs <= 2,
            s"version growth must stay flat under vacuum: $nDirs dirs")
          (c, wall, recall, retrained, fBefore, fAfter, nDirs,
            adcWall.getOrElse(-1.0))
        }
        require(!rows(0)._4 && !rows(1)._4,
          "in-distribution cycles must not retrain")
        require(rows(2)._4, "the reversed-wave cycle must trip the retrain")
        rows.toDF("cycle", "wall_s", "recall", "retrained",
          "files_before", "files_after", "version_dirs", "adc_probe_s")
      }

      val annPipelines: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
        // full Lloyd pass at the scaled cell count (train is the wall)
        "ivf_train_scaled" -> (() => Ivf.train(emb, k = cellsScaled, iters = 1)),
        // daily-append path: resident 90% written partitioned, the 10%
        // batch assigned to FROZEN centroids and hive-appended; the
        // returned frame re-reads the merged store so the wall covers
        // write + append + the re-read a downstream probe would do
        "ivf_append" -> (() => {
          val resident = emb.filter(col("vec_id") % 10 =!= 0)
          val batch = emb.filter(col("vec_id") % 10 === 0)
          org.apache.hadoop.fs.FileSystem.get(
            spark.sparkContext.hadoopConfiguration)
            .delete(new org.apache.hadoop.fs.Path(storeDir), true)
          Ivf.writeAssignedStore(resident, centsScaled, storeDir)
          Ivf.appendToStore(batch, centsScaled, storeDir)
          spark.read.parquet(storeDir)
        }),
        // PQ codebook train + full-corpus encode at contract geometry
        // (m=4 subspaces x 16 dims, k=8 codes)
        "pq_encode" -> (() => {
          val cbs = Pq.trainCodebooks(emb, m = 4, k = 8, dim = 64)
          Pq.encode(emb, cbs)
        }),
        // the budget-gated graph build: cells sized from the corpus,
        // pair volume priced BEFORE the self-join (the 4e8 budget admits
        // the ~256-sized cells this corpus prices to)
        "knn_graph_auto" -> (() => Ivf.knnGraphAuto(emb, k = 3,
          targetCellSize = 256, pairBudget = 400000000L, iters = 1)),
        // the recall-drift retrain trigger at scale (VERDICT r9 item 2):
        // an IN-DISTRIBUTION appended wave (duplicates of corpus vectors
        // under new ids — each lands in its own cluster's cell, true
        // neighbors co-located) must pass the 0.8 recall floor, and a
        // SHIFTED wave (dimension-REVERSED embeddings — a genuine
        // distribution shift: new directions uncorrelated with every
        // trained centroid, e.g. a new encoder/modality feeding the same
        // store) must make Ivf.requireFreshIndex throw: the reversed
        // vectors' true neighbors scatter across cells the frozen
        // quantizer never carved for them. Both audits run the full
        // recallDrift measurement against exact brute force at the
        // scaled cell count.
        "ann_drift_gate" -> (() => {
          import graft.similarity.Ivf
          val inWave = emb.filter(col("vec_id") % 991 === 0)
            .select((col("vec_id") + nVec * 100).as("vec_id"),
              col("embedding"))
          val inQs = inWave.orderBy("vec_id").limit(10)
            .select(col("vec_id").as("query_id"),
              col("embedding").as("query_vec"))
          val healthy = Ivf.recallDrift(emb, Seq(inWave), inQs, k = 5,
            nprobe = 2, kCents = cellsScaled)
          val hMean = Ivf.requireFreshIndex(healthy, k = 5, floor = 0.8)
          println(f"[stress] in-distribution wave: last-stage mean " +
            f"recall@5 = $hMean%.4f (floor 0.8 passes)")
          val shifted = emb.filter(col("vec_id") % 997 === 0)
            .select((col("vec_id") + nVec * 200).as("vec_id"),
              expr("reverse(embedding)").as("embedding"))
          val sQs = shifted.orderBy("vec_id").limit(10)
            .select(col("vec_id").as("query_id"),
              col("embedding").as("query_vec"))
          val drifted = Ivf.recallDrift(emb, Seq(shifted), sQs, k = 5,
            nprobe = 2, kCents = cellsScaled)
          val fired =
            try { Ivf.requireFreshIndex(drifted, k = 5, floor = 0.8); false }
            catch { case e: IllegalStateException =>
              println(s"[stress] shifted wave: TRIGGER FIRED — ${e.getMessage}")
              true
            }
          require(fired, "shifted wave did not trip the retrain gate")
          import spark.implicits._
          Seq((hMean, fired)).toDF("healthy_mean_recall", "trigger_fired")
        }),
        // audit cost vs sample size (VERDICT r10 #4): the same stored-
        // index health audit at 10/50/100% deterministic corpus samples
        // — wall should scale ~linearly with the sample (brute force is
        // the dominant term) while the recall estimate stays usable
        "ann_drift_sampled" -> (() => {
          import graft.similarity.Ivf
          import spark.implicits._
          val root = s"$outDir/ivf_sampled_root"
          org.apache.hadoop.fs.FileSystem.get(
            spark.sparkContext.hadoopConfiguration)
            .delete(new org.apache.hadoop.fs.Path(root), true)
          Ivf.writeVersionedIndex(
            emb.select(col("vec_id"), col("embedding")),
            k = cellsScaled, root)
          // 500 queries so brute-force compute (the samplePct-scaled
          // term) dominates the fixed per-plan overhead — at 20 queries
          // the walls are codegen-bound and the knob is invisible
          val qs = graft.similarity.Ann.selfQueries(emb, 500)
          // one untimed warm-up so the 10% pass doesn't absorb codegen +
          // first-store-read costs that would invert the wall curve
          Ivf.sampledAudit(spark, root, qs, k = 5, nprobe = 2,
            samplePct = 100).count()
          // the AUTO-SIZED pct (VERDICT r11 #7): this corpus is the
          // base replicated `factor` times, so the in-code rule sizes
          // minSampleRows to 10 rows per distinct neighborhood
          // (10 x base count) — which IS the SCALE.md pct >= 1000/factor
          // family-coverage rule, derived from store geometry instead of
          // prose. The gate below requires the auto audit to read the
          // same health as the full one (the 0.796 false alarm at
          // 30x/pct=10 is exactly what auto-sizing prevents).
          val storeN = emb.count()
          val autoPct = Ivf.autoSamplePct(storeN,
            minSampleRows = 10L * (storeN / factor))
          val rows = Seq(10, 50, 100, -autoPct).map { p =>
            val pct = math.abs(p)
            val t0 = System.nanoTime()
            val mean = Ivf.sampledAudit(spark, root, qs, k = 5,
                nprobe = 2, samplePct = pct)
              .agg(avg(col("recall_at_5"))).head().getDouble(0)
            val w = (System.nanoTime() - t0) / 1e9
            val tag = if (p < 0) " (AUTO)" else ""
            println(f"[stress] sampled audit pct=$pct%3d$tag " +
              f"wall=$w%7.1f s mean recall@5=$mean%.4f")
            (pct, w, mean, p < 0)
          }
          val fullMean = rows.find(r => r._1 == 100 && !r._4).get._3
          val autoMean = rows.find(_._4).get._3
          require(math.abs(autoMean - fullMean) < 0.05,
            f"auto-sized audit (pct=$autoPct) read $autoMean%.4f but the " +
              f"full audit read $fullMean%.4f — the sizing rule failed")
          rows.map(r => (r._1, r._2, r._3, r._4))
            .toDF("sample_pct", "wall_s", "mean_recall", "auto_sized")
        }),
        // the FULL lifecycle loop at scale (VERDICT r10 #7): three
        // ingest -> sampled-audit -> (retrain on drift) -> compact ->
        // vacuum cycles. Cycles 1-2 feed in-distribution waves
        // (duplicate vectors under new ids — co-located with their
        // replica families, audit passes); cycle 3 feeds a REVERSED
        // wave that must trip the retrain. Version-directory count must
        // stay flat (<= keepN) after every vacuum — the retention gate.
        "lifecycle_decade" -> (() => lifecycleDecade(None)),
        // the IVFADC triple on the same lifecycle (r12): identical
        // loop, the base publish carries a PqSpec — codebook train +
        // corpus encode ride every publish/retrain, codes stream and
        // fold with the vectors, and the ADC probe is timed per cycle
        "lifecycle_decade_pq" -> (() =>
          lifecycleDecade(Some(graft.similarity.PqSpec(m = 4, k = 16)))),
        // the superlinear shape the gate exists for, PRICED not run: the
        // contract query's FIXED 8 cells at this corpus — cellCost says
        // how many pairs the self-join would enumerate (Θ(n²/8))
        "knn_graph_fixed_priced" -> (() => {
          val cents8 = Ivf.train(emb, k = 8, iters = 1)
          val assigned = Ivf.assign(emb, cents8)
            .select(col("vec_id"), col("centroid_id"))
          val (pairs, maxCell) = Ivf.cellCost(assigned)
          println(s"[stress] fixed-8-cell price at $nVec vectors: " +
            s"$pairs candidate pairs, largest cell $maxCell " +
            "(the quadratic term knnGraphAuto's budget refuses)")
          import spark.implicits._
          Seq((pairs, maxCell)).toDF("pairs", "max_cell")
        })
      )
      // train the shared centroids OUTSIDE the append measurement so the
      // ivf_append wall is the append path, not a hidden retrain
      if (only.exists(_.contains("ivf_append"))) { centsScaled; () }
      annPipelines.foreach { case (name, mk) => measure(name, mk) }
    }
    spark.stop()
  }
}
