package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.similarity.{Ann, Ivf}

class IvfSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def mkVec(seed: Int): Array[Float] = {
    val r = new scala.util.Random(seed)
    Array.fill(16)((r.nextDouble() * 2 - 1).toFloat)
  }
  private def corpus = (0 until 60).map(i => (i.toLong, mkVec(i)))
    .toDF("vec_id", "embedding")

  test("train produces k centroids of the right dimension") {
    val cents = Ivf.train(corpus, k = 4, iters = 2, dim = 16)
    val rows = cents.collect()
    assert(rows.length == 4)
    assert(rows.forall(_.getSeq[Float](1).length == 16))
  }

  test("assignment is total and deterministic") {
    val cents = Ivf.train(corpus, k = 4, iters = 1, dim = 16)
    val a1 = Ivf.assign(corpus, cents).select("vec_id", "centroid_id")
      .as[(Long, Int)].collect().sortBy(_._1)
    val a2 = Ivf.assign(corpus, cents).select("vec_id", "centroid_id")
      .as[(Long, Int)].collect().sortBy(_._1)
    assert(a1.toSeq == a2.toSeq)
    assert(a1.length == 60)
  }

  test("NearestCentroid kernel ≡ greatest-struct formulation (any k)") {
    // 70 centroids crosses the GreatestMaxK=64 switch; force BOTH paths on
    // the same set and assert bitwise-identical assignments (the kernel's
    // hoisted norm keeps cosineF's exact operand order, so ties — incl.
    // duplicate centroids — must break identically: lowest id).
    val cents = ((0 until 68).map(i => (i, mkVec(1000 + i).toSeq)) ++
      Seq((68, mkVec(1000).toSeq), (69, mkVec(1001).toSeq))) // dup vectors → ties
      .toArray
    val viaKernel = Ivf.assignTo(cents, corpus, "vec_id", "embedding",
        useKernel = Some(true))
      .select("vec_id", "centroid_id").as[(Long, Int)].collect().sortBy(_._1)
    val viaGreatest = Ivf.assignTo(cents, corpus, "vec_id", "embedding",
        useKernel = Some(false))
      .select("vec_id", "centroid_id").as[(Long, Int)].collect().sortBy(_._1)
    assert(viaKernel.toSeq == viaGreatest.toSeq)
    assert(viaKernel.length == 60)
  }

  test("ivfTopK results are a subset of exact brute-force pairs") {
    val cents = Ivf.train(corpus, k = 4, iters = 1, dim = 16)
    val qs = Ann.selfQueries(corpus, 5)
    val approx = Ivf.ivfTopK(corpus, qs, cents, k = 3, nprobe = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = Ann.bruteForceTopK(corpus, qs, k = 59)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(approx.nonEmpty && approx.subsetOf(exact))
    // with nprobe = k (probe everything) IVF == exact brute force top-k
    val full = Ivf.ivfTopK(corpus, qs, cents, k = 3, nprobe = 4)
      .select("query_id", "rank", "neighbor_id").as[(Long, Long, Long)].collect().toSet
    val bf = Ann.bruteForceTopK(corpus, qs, k = 3)
      .select("query_id", "rank", "neighbor_id").as[(Long, Long, Long)].collect().toSet
    assert(full == bf)
  }

  test("appendToStore: merged store answers probes identically to a full rebuild") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val base = corpus.filter(pmod(col("vec_id"), lit(4)) =!= 0)
    val batch = corpus.filter(pmod(col("vec_id"), lit(4)) === 0)
    // centroids trained on the BASE only, then frozen
    val cents = Ivf.train(base, k = 4, iters = 1, dim = 16)
    val incr = SparkFixture.tempDir("ivf_incr").toString
    val full = SparkFixture.tempDir("ivf_full").toString
    Ivf.writeAssignedStore(base, cents, incr)
    Ivf.appendToStore(batch, cents, incr) // incremental: no retrain
    Ivf.writeAssignedStore(corpus, cents, full) // rebuild on the union
    // the two stores hold identical (vec_id, centroid_id) assignments...
    val aIncr = spark.read.parquet(incr).select("vec_id", "centroid_id")
      .as[(Long, Int)].collect().sortBy(_._1).toSeq
    val aFull = spark.read.parquet(full).select("vec_id", "centroid_id")
      .as[(Long, Int)].collect().sortBy(_._1).toSeq
    assert(aIncr == aFull && aIncr.length == 60)
    // ...and answer a probe identically
    val qs = Ann.selfQueries(corpus, 5)
    val rIncr = Ivf.ivfTopKFromStore(incr, qs, cents, k = 3, nprobe = 2)
      .select("query_id", "rank", "neighbor_id", "cosine")
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    val rFull = Ivf.ivfTopKFromStore(full, qs, cents, k = 3, nprobe = 2)
      .select("query_id", "rank", "neighbor_id", "cosine")
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(rIncr == rFull && rIncr.nonEmpty)
  }

  test("knnGraph: every vector gets neighbors only from its own cell") {
    val cents = Ivf.train(corpus, k = 4, iters = 1, dim = 16)
    val cell = Ivf.assign(corpus, cents)
      .select("vec_id", "centroid_id").as[(Long, Int)].collect().toMap
    val g = Ivf.knnGraph(corpus, cents, k = 3)
      .select("query_id", "rank", "neighbor_id").as[(Long, Long, Long)]
      .collect()
    assert(g.nonEmpty)
    g.foreach { case (q, _, n) =>
      assert(q != n)
      assert(cell(q) == cell(n), s"$q and $n live in different cells")
    }
    // every vector in a cell of size >= 4 has exactly k=3 neighbors
    val sizes = cell.values.groupBy(identity).map { case (c, v) => c -> v.size }
    val perQuery = g.groupBy(_._1).map { case (q, rs) => q -> rs.length }
    cell.foreach { case (v, c) =>
      if (sizes(c) >= 4) assert(perQuery.getOrElse(v, 0) == 3, s"vec $v")
    }
  }

  test("knnGraph within one cell equals exact brute-force ranks") {
    // one centroid -> blocking is a no-op and the graph is exact
    val cents = Ivf.train(corpus, k = 1, iters = 1, dim = 16)
    val g = Ivf.knnGraph(corpus, cents, k = 2)
      .select("query_id", "rank", "neighbor_id").as[(Long, Long, Long)]
      .collect().toSet
    val qs = corpus.selectExpr("vec_id AS query_id", "embedding AS query_vec")
    val bf = Ann.bruteForceTopK(corpus, qs, k = 2)
      .select("query_id", "rank", "neighbor_id").as[(Long, Long, Long)]
      .collect().toSet
    assert(g == bf)
  }

  test("stored centroids round-trip: parquet-read centroids probe identically") {
    val cents = Ivf.train(corpus, k = 4, iters = 1, dim = 16)
    val dir = SparkFixture.tempDir("graft_ivf_cents").toString
    graft.sources.Sinks.writeParquet(cents, dir)
    val stored = spark.read.parquet(dir)
    val qs = corpus.filter($"vec_id" < 5)
      .selectExpr("vec_id AS query_id", "embedding AS query_vec")
    def probe(c: org.apache.spark.sql.DataFrame) =
      Ivf.ivfTopK(corpus, qs, c, k = 3, nprobe = 2)
        .select("query_id", "rank", "neighbor_id", "cosine")
        .as[(Long, Long, Long, Double)].collect().toSet
    assert(probe(stored) == probe(cents))
  }

  test("cellCost prices ordered pairs and the largest cell exactly") {
    // hand-built assignment: cells of size 3, 2, 1 -> 3*2 + 2*1 + 0 = 8
    val assigned = Seq((0L, 0), (1L, 0), (2L, 0), (3L, 1), (4L, 1), (5L, 2))
      .toDF("vec_id", "centroid_id")
    assert(Ivf.cellCost(assigned) == (8L, 3L))
    assert(Ivf.cellCost(assigned.filter($"vec_id" < 0)) == (0L, 0L))
  }

  test("knnGraphAuto equals fixed-k knnGraph when the auto choice lands on it") {
    // 60 vectors, targetCellSize 15 -> ceil(60/15) = 4 cells = the fixed k
    val auto = Ivf.knnGraphAuto(corpus, k = 3, targetCellSize = 15,
        minCells = 1, iters = 1)
      .select("query_id", "rank", "neighbor_id").as[(Long, Long, Long)]
      .collect().toSet
    val cents = Ivf.train(corpus, k = 4, iters = 1, dim = 16)
    val fixed = Ivf.knnGraph(corpus, cents, k = 3)
      .select("query_id", "rank", "neighbor_id").as[(Long, Long, Long)]
      .collect().toSet
    assert(auto == fixed)
  }

  test("knnGraphAuto refuses when the blocked pair volume exceeds the budget") {
    val e = intercept[IllegalArgumentException] {
      Ivf.knnGraphAuto(corpus, k = 3, targetCellSize = 60, minCells = 1,
        pairBudget = 10L, iters = 1).collect()
    }
    assert(e.getMessage.contains("candidate pairs"))
  }

  test("reindexIfDrifted: healthy store keeps its version; a shifted wave retrains and recovers") {
    // same two-cluster construction as the requireFreshIndex test:
    // interleaved e1/e2 clusters train a clean 2-cell quantizer; the
    // appended diagonal cluster splits across cells under the FROZEN
    // v=1 centroids and nprobe=1 probes miss — reindex must fire, and
    // the v=2 quantizer (trained on the full store) must carve a cell
    // for the new cluster so recall recovers
    def unit(dim0: Int, seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.tabulate(16) { d =>
        (if (d == dim0) 1.0f else 0.0f) +
          (r.nextDouble() * 0.02f - 0.01f).toFloat
      }
    }
    def e3(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.tabulate(16) { d =>
        (if (d == 2) 1.0f else 0.0f) +
          (r.nextDouble() * 0.02f - 0.01f).toFloat
      }
    }
    // resident ids 3..22 (e1/e2 interleaved); the shifted e3 cluster
    // carries ONE LOW id (2) plus 28..46 — so the v=2 retrain's
    // lowest-3-id seeding (vecs 3, 4, 2 -> e1, e2, e3) covers all three
    // clusters and one Lloyd iteration lands at the true means
    val resident = (3 until 23)
      .map(i => (i.toLong, unit(if (i % 2 == 1) 0 else 1, i)))
      .toDF("vec_id", "embedding")
    val root = SparkFixture.tempDir("graft_reindex").toString + "/idx"
    val v1 = Ivf.writeVersionedIndex(resident, k = 2, root)
    assert(v1 == 1L && Ivf.indexVersion(spark, root) == 1L)
    // healthy audit: resident queries, their neighbors in their own cell
    val healthyQs = resident.filter($"vec_id" < 9)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val (vKept, rHealthy) = Ivf.reindexIfDrifted(spark, root, healthyQs,
      k = 3, nprobe = 1, floor = 0.9, kCents = 2)
    assert(vKept == 1L && rHealthy >= 0.9)
    // shifted (orthogonal e3) wave appended under the FROZEN centroids:
    // cosine to both v=1 centroids is ~0 so noise scatters the cluster
    // across cells and nprobe=1 probes miss their true neighbors
    val shifted = (Seq(2L) ++ (28L until 47L))
      .map(i => (i, e3(i.toInt))).toDF("vec_id", "embedding")
    val cents = spark.read.parquet(s"$root/v=1/centroids")
    Ivf.writeBatchToStore(shifted, cents, s"$root/v=1/store", 0L)
    val shiftedQs = shifted.orderBy("vec_id").limit(6)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    // kCents=3: the retrain gives the new cluster its own cell
    val (vNew, rDrifted) = Ivf.reindexIfDrifted(spark, root, shiftedQs,
      k = 3, nprobe = 1, floor = 0.9, kCents = 3)
    assert(vNew == 2L && rDrifted < 0.9)
    assert(Ivf.indexVersion(spark, root) == 2L)
    // the swap recovered recall: audit the NEW version with the same
    // queries — post-retrain the audit must pass the same floor
    val (vStable, rAfter) = Ivf.reindexIfDrifted(spark, root, shiftedQs,
      k = 3, nprobe = 1, floor = 0.9, kCents = 3)
    assert(vStable == 2L && rAfter >= 0.9)
    // v=1 is untouched (time travel / rollback stays possible)
    assert(spark.read.parquet(s"$root/v=1/store").count() == 40)
  }

  test("compactIngestStore: fewer files, identical probe answers") {
    val cents = Ivf.train(corpus, k = 3, iters = 1, dim = 16)
    val cArr = cents.collect()
    val local = spark.createDataFrame(
      java.util.Arrays.asList(cArr: _*), cents.schema)
    val tmp = SparkFixture.tempDir("graft_compact").toString
    val store = s"$tmp/store"; val compacted = s"$tmp/compacted"
    Ivf.writeIngestStore(corpus.filter($"vec_id" < 40), local, store)
    // three streamed-batch layers
    for ((lo, hi, b) <- Seq((40, 47, 0), (47, 54, 1), (54, 60, 2)))
      Ivf.writeBatchToStore(
        corpus.filter($"vec_id" >= lo && $"vec_id" < hi), local, store, b.toLong)
    val qs = Ann.selfQueries(corpus, 5)
    def probe(p: String) = Ivf.ivfTopKFromStore(p, qs, local, k = 3, nprobe = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    val layered = probe(store)
    val (before, after) = Ivf.compactIngestStore(spark, store, compacted)
    assert(after < before)
    assert(spark.read.parquet(compacted).count() == 60)
    assert(probe(compacted) == layered)
  }

  test("probeSelection: aggregate path ≡ literal-array path") {
    val cents = Ivf.train(corpus, k = 4, iters = 1, dim = 16)
    val cArr = cents.collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1))).sortBy(_._1)
    val qs = Ann.selfQueries(corpus, 8)
    def run(agg: Boolean) =
      Ivf.probeSelection(qs, cArr, nprobe = 2, Some(agg))
        .select("query_id", "centroid_id").as[(Long, Int)]
        .collect().toSeq.sorted
    assert(run(true) == run(false))
    assert(run(true).size == 16) // 8 queries x nprobe 2
  }

  test("recallDrift: one row per (stage, query); stage 0 equals a direct audit") {
    val resident = corpus.filter($"vec_id" % 5 =!= 0)
    val w1 = corpus.filter($"vec_id" % 10 === 0)
    val w2 = corpus.filter($"vec_id" % 10 === 5)
    val qs = Ann.selfQueries(corpus, 6)
    val drift = Ivf.recallDrift(resident, Seq(w1, w2), qs, k = 3,
      nprobe = 2, kCents = 4)
    val rows = drift.select("stage", "query_id", "n_hit", "recall_at_3")
      .as[(Int, Long, Long, Double)].collect()
    assert(rows.length == 18) // 3 stages x 6 queries
    assert(rows.map(_._1).toSet == Set(0, 1, 2))
    // stage 0 must equal recallAtK computed directly on the resident-only
    // corpus with the same frozen centroids
    val cents = Ivf.train(resident, k = 4, iters = 1, dim = 16)
    val direct = Ann.recallAtK(
        Ann.bruteForceTopK(resident, qs, k = 3),
        Ivf.ivfTopK(resident, qs, cents, k = 3, nprobe = 2), qs, k = 3)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    val stage0 = rows.filter(_._1 == 0).map(r => (r._2, r._3, r._4))
      .toSeq.sorted
    assert(stage0 == direct)
  }

  test("requireFreshIndex fires on a distribution-shifted appended batch") {
    // Resident corpus: two tight clusters around e1 and e2 (the frozen
    // 2-cell quantizer separates them perfectly). Appended batch: a NEW
    // cluster on the diagonal (e1+e2)/sqrt(2) — each shifted vector's
    // cosine to both centroids is ~0.7 and tiny per-vector noise decides
    // the cell, so the shifted cluster SPLITS across both cells. A
    // shifted query probing nprobe=1 cell then misses every true
    // neighbor that landed in the other cell: recall collapses — genuine
    // frozen-centroid drift, not a plumbing artifact.
    def unit(dim0: Int, noiseSeed: Int): Array[Float] = {
      val r = new scala.util.Random(noiseSeed)
      Array.tabulate(16) { d =>
        val base = if (d == dim0) 1.0f else 0.0f
        base + (r.nextDouble() * 0.02f - 0.01f).toFloat
      }
    }
    def diag(noiseSeed: Int): Array[Float] = {
      val r = new scala.util.Random(noiseSeed)
      Array.tabulate(16) { d =>
        val base = if (d <= 1) 0.7071f else 0.0f
        base + (r.nextDouble() * 0.02f - 0.01f).toFloat
      }
    }
    // clusters INTERLEAVED by id: the trainer seeds from the two lowest
    // ids (vec 0 -> e1 cluster, vec 1 -> e2 cluster), so one Lloyd
    // iteration converges to the true per-cluster means
    val resident = (0 until 20)
      .map(i => (i.toLong, unit(if (i % 2 == 0) 0 else 1, i)))
      .toDF("vec_id", "embedding")
    val shifted = (20 until 40).map(i => (i.toLong, diag(i)))
      .toDF("vec_id", "embedding")
    val qs = shifted.filter($"vec_id" < 26)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val drift = Ivf.recallDrift(resident, Seq(shifted), qs, k = 3,
      nprobe = 1, kCents = 2)
    val e = intercept[IllegalStateException] {
      Ivf.requireFreshIndex(drift, k = 3, floor = 0.9)
    }
    assert(e.getMessage.contains("drifted"))
    // and a healthy audit passes: the same corpus WITHOUT the shift
    val healthyWave = resident.filter($"vec_id" % 5 === 0)
      .select($"vec_id" + 100, $"embedding").toDF("vec_id", "embedding")
    val healthyQs = resident.filter($"vec_id" < 6)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val healthy = Ivf.recallDrift(resident, Seq(healthyWave), healthyQs,
      k = 3, nprobe = 1, kCents = 2)
    assert(Ivf.requireFreshIndex(healthy, k = 3, floor = 0.9) >= 0.9)
  }

  test("sampledAudit: samplePct=100 equals the full audit; the sampled gate still drives the retrain") {
    // the reindexIfDrifted designed clusters: e1/e2 resident, orthogonal
    // e3 wave that scatters under the frozen quantizer
    def unit(dim0: Int, seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.tabulate(16) { d =>
        (if (d == dim0) 1.0f else 0.0f) +
          (r.nextDouble() * 0.02f - 0.01f).toFloat
      }
    }
    val resident = (3 until 23)
      .map(i => (i.toLong, unit(if (i % 2 == 1) 0 else 1, i)))
      .toDF("vec_id", "embedding")
    val root = SparkFixture.tempDir("graft_sampaudit").toString + "/idx"
    val v1 = Ivf.writeVersionedIndex(resident, k = 2, root)
    val healthyQs = resident.filter($"vec_id" < 9)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    // samplePct=100 IS the full audit: same mean recall as the gate
    val full = Ivf.sampledAudit(spark, root, healthyQs, k = 3,
      nprobe = 1, samplePct = 100)
    val fullMean = full
      .agg(org.apache.spark.sql.functions.avg($"recall_at_3"))
      .head().getDouble(0)
    val (vKept, rFull) = Ivf.reindexIfDrifted(spark, root, healthyQs,
      k = 3, nprobe = 1, floor = 0.9, kCents = 2)
    assert(vKept == v1 && math.abs(fullMean - rFull) < 1e-12)
    // a 60% sample reads strictly fewer corpus rows yet the healthy
    // audit still passes (co-location survives subsetting: both the
    // exact and approx sides restrict to the SAME sample)
    val (vKept2, rSampled) = Ivf.reindexIfDriftedSampled(spark, root,
      healthyQs, k = 3, nprobe = 1, floor = 0.9, samplePct = 60,
      kCents = 2)
    assert(vKept2 == v1 && rSampled >= 0.9)
    // the shifted e3 wave appended under the frozen centroids: the
    // SAMPLED gate must fire the retrain exactly like the full one
    val shifted = (Seq(2L) ++ (28L until 47L))
      .map(i => (i, unit(2, i.toInt))).toDF("vec_id", "embedding")
    val cents = spark.read.parquet(s"$root/v=1/centroids")
    Ivf.writeBatchToStore(shifted, Ivf.localizeCentroids(cents),
      s"$root/v=1/store", 0L)
    val shiftedQs = shifted.orderBy("vec_id").limit(6)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val (vNew, rDrifted) = Ivf.reindexIfDriftedSampled(spark, root,
      shiftedQs, k = 3, nprobe = 1, floor = 0.9, samplePct = 60,
      kCents = 3)
    assert(vNew == v1 + 1 && rDrifted < 0.9)
    assert(Ivf.indexVersion(spark, root) == v1 + 1)
    // the repair retrained on the FULL store (not the sample): v=2
    // carries every row
    assert(spark.read.parquet(s"$root/v=2/store").count() == 40)
  }

  test("assignmentConfidence: in-space batch scores ~1, out-of-space batch ~0") {
    def unit(dim0: Int, seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.tabulate(16) { d =>
        (if (d == dim0) 1.0f else 0.0f) +
          (r.nextDouble() * 0.02f - 0.01f).toFloat
      }
    }
    val resident = (0 until 20)
      .map(i => (i.toLong, unit(if (i % 2 == 0) 0 else 1, i)))
      .toDF("vec_id", "embedding")
    val cents = Ivf.train(resident, k = 2, iters = 1)
    val inSpace = resident.limit(6)
      .select($"vec_id" + 100, $"embedding").toDF("vec_id", "embedding")
    assert(Ivf.assignmentConfidence(inSpace, cents) > 0.9)
    // the orthogonal e3 direction: ~0 cosine against BOTH centroids —
    // the structural out-of-space reading, independent of corpus density
    val outSpace = (200 until 206).map(i => (i.toLong, unit(2, i)))
      .toDF("vec_id", "embedding")
    assert(Ivf.assignmentConfidence(outSpace, cents) < 0.2)
    intercept[IllegalArgumentException] {
      Ivf.assignmentConfidence(resident.limit(0), cents)
    }
    // the large-k aggregate path (the GreatestMaxK codegen-wall switch)
    // reads the same confidence as the literal-array path
    val litPath = Ivf.assignmentConfidence(inSpace, cents,
      useAggregate = Some(false))
    val aggPath = Ivf.assignmentConfidence(inSpace, cents,
      useAggregate = Some(true))
    assert(math.abs(litPath - aggPath) < 1e-9)
  }

  test("requireFreshIndex: clear error on an empty audit frame") {
    val empty = Seq.empty[(Int, Long, Double)]
      .toDF("stage", "query_id", "recall_at_3")
    val e = intercept[IllegalArgumentException] {
      Ivf.requireFreshIndex(empty, k = 3, floor = 0.5)
    }
    assert(e.getMessage.contains("non-empty"))
  }

  test("manifest publish: uncommitted builds are invisible; crash retry converges") {
    val root = SparkFixture.tempDir("graft_manifest").toString + "/idx"
    val resident = corpus.filter($"vec_id" < 40)
    val qs = Ann.selfQueries(corpus, 5)
    def probe(r: String) =
      Ivf.ivfTopKFromVersioned(spark, r, qs, k = 3, nprobe = 2)
        .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    val v1 = Ivf.writeVersionedIndex(resident, k = 3, root)
    assert(v1 == 1L && Ivf.indexVersion(spark, root) == 1L)
    val served = probe(root)
    // CRASH 1: v=2 built COMPLETELY, died before the manifest commit —
    // the protocol's single publication point. Readers must not see it.
    Ivf.buildVersionDir(corpus, k = 3, root, v = 2L)
    assert(Ivf.indexVersion(spark, root) == 1L)
    assert(probe(root) == served)
    // CRASH 2: the rebuild itself dies half-written (store missing) —
    // still invisible, old version still serves
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/v=2/store"), true)
    assert(Ivf.indexVersion(spark, root) == 1L)
    assert(probe(root) == served)
    // the retry deletes the orphan, rebuilds, and commits — and the
    // result is byte-identical to a publish that never crashed
    val v2 = Ivf.writeVersionedIndex(corpus, k = 3, root)
    assert(v2 == 2L && Ivf.indexVersion(spark, root) == 2L)
    val after = probe(root)
    val clean = SparkFixture.tempDir("graft_manifest2").toString + "/idx"
    Ivf.writeVersionedIndex(resident, k = 3, clean)
    Ivf.writeVersionedIndex(corpus, k = 3, clean)
    assert(probe(clean) == after)
  }

  test("vacuumVersions: newest keepN survive, probers keep serving, builders untouched") {
    val root = SparkFixture.tempDir("graft_vacuum").toString + "/idx"
    Ivf.writeVersionedIndex(corpus.filter($"vec_id" < 20), k = 2, root)
    Ivf.writeVersionedIndex(corpus.filter($"vec_id" < 40), k = 3, root)
    Ivf.writeVersionedIndex(corpus, k = 3, root)
    // an UNCOMMITTED build above the manifest (a live builder's work in
    // progress) — vacuum must never touch it
    Ivf.buildVersionDir(corpus, k = 2, root, v = 4L)
    val qs = Ann.selfQueries(corpus, 5)
    val served = Ivf.ivfTopKFromVersioned(spark, root, qs, k = 3, nprobe = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    val deleted = Ivf.vacuumVersions(spark, root, keepN = 2)
    assert(deleted == Seq(1L))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dirs = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName).filter(_.startsWith("v=")).sorted.toSeq
    assert(dirs == Seq("v=2", "v=3", "v=4"))
    assert(Ivf.indexVersion(spark, root) == 3L)
    assert(Ivf.ivfTopKFromVersioned(spark, root, qs, k = 3, nprobe = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted == served)
    // keepN covering everything is a no-op; keepN < 1 refuses
    assert(Ivf.vacuumVersions(spark, root, keepN = 5) == Seq.empty)
    intercept[IllegalArgumentException] {
      Ivf.vacuumVersions(spark, root, keepN = 0)
    }
  }

  test("compactVersion: layers fold into v+1 via the manifest, probes identical") {
    val root = SparkFixture.tempDir("graft_compactv").toString + "/idx"
    val v1 = Ivf.writeVersionedIndex(corpus.filter($"vec_id" < 40), k = 3, root)
    val cents = spark.read.parquet(s"$root/v=$v1/centroids")
    for ((lo, hi, b) <- Seq((40, 47, 0), (47, 54, 1), (54, 60, 2)))
      Ivf.writeBatchToStore(
        corpus.filter($"vec_id" >= lo && $"vec_id" < hi), cents,
        s"$root/v=$v1/store", b.toLong)
    val qs = Ann.selfQueries(corpus, 5)
    def probe() =
      Ivf.ivfTopKFromVersioned(spark, root, qs, k = 3, nprobe = 2)
        .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    val layered = probe()
    val (v2, before, after) = Ivf.compactVersion(spark, root)
    assert(v2 == 2L && after < before)
    assert(spark.read.parquet(s"$root/v=2/store").count() == 60)
    assert(probe() == layered)
    // the fold marker is DERIVED from the absorbed layer names (b0..b2),
    // not trusted to a caller — an external/nightly compaction racing a
    // streaming checkpoint commit still records what it folded
    assert(Ivf.readFoldedThrough(spark, root, 2L) == Some(2L))
    // retiring the superseded layered version is vacuum's job — and the
    // compacted version keeps serving afterwards
    assert(Ivf.vacuumVersions(spark, root, keepN = 1) == Seq(1L))
    assert(probe() == layered)
  }

  test("conditional commit: two-writer race — loser refuses in both interleavings, retry converges, marker kept") {
    import graft.similarity.ConcurrentPublishException
    val root = SparkFixture.tempDir("graft_race").toString + "/idx"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val resident = corpus.filter($"vec_id" < 40)
    val v1 = Ivf.writeVersionedIndex(resident, k = 3, root)
    // a streamed layer lands on v1 — the fold marker the race must not lose
    val cents1 = spark.read.parquet(s"$root/v=$v1/centroids")
    Ivf.writeBatchToStore(corpus.filter($"vec_id" >= 40 && $"vec_id" < 50),
      cents1, s"$root/v=$v1/store", 7L)
    // INTERLEAVING 1: writer B stages against committed=1, writer A
    // commits v=2 first. B's promote must refuse (manifest moved), its
    // staging must be cleaned, and A's publish must be untouched.
    val stagingB = s"$root/.build-v=2-raceB"
    Ivf.buildVersionDirAt(corpus.filter($"vec_id" < 50), k = 3, stagingB)
    val v2 = Ivf.writeVersionedIndex(
      spark.read.parquet(s"$root/v=$v1/store")
        .select($"vec_id", $"embedding"), k = 3, root)
    assert(v2 == 2L)
    // the external publish DERIVED the marker from v1's absorbed layer
    assert(Ivf.readFoldedThrough(spark, root, 2L) == Some(7L))
    intercept[ConcurrentPublishException] {
      Ivf.promoteAndCommit(spark, root, 2L, stagingB)
    }
    assert(!fs.exists(new org.apache.hadoop.fs.Path(stagingB)))
    assert(Ivf.indexVersion(spark, root) == 2L)
    assert(Ivf.readFoldedThrough(spark, root, 2L) == Some(7L))
    // B retries from the NEW committed version and converges — carrying
    // the marker forward (nothing folded is forgotten by the lost race)
    val v3 = Ivf.writeVersionedIndex(corpus, k = 3, root)
    assert(v3 == 3L)
    assert(Ivf.readFoldedThrough(spark, root, 3L) == Some(7L))
    // INTERLEAVING 2: B promoted v=4 but stalls before its commit; A
    // publishes v=4 (deleting the unresolvable orphan); B's conditional
    // commit then refuses instead of clobbering A's manifest.
    Ivf.buildVersionDir(corpus, k = 3, root, v = 4L)
    val v4 = Ivf.writeVersionedIndex(corpus, k = 3, root)
    assert(v4 == 4L)
    intercept[ConcurrentPublishException] {
      Ivf.commitVersion(spark, root, 4L, expected = 3L)
    }
    assert(Ivf.indexVersion(spark, root) == 4L)
    // the committed version always names one COMPLETE build
    val served = Ivf.ivfTopKFromVersioned(spark, root,
        Ann.selfQueries(corpus, 5), k = 3, nprobe = 2)
      .as[(Long, Long, Long, Double)].collect()
    assert(served.nonEmpty)
  }

  test("bootstrap: a crashed FIRST publish cannot wedge the root; a lost manifest still refuses") {
    val root = SparkFixture.tempDir("graft_boot").toString + "/idx"
    // the publish path bootstraps manifest=0 BEFORE the first build...
    assert(Ivf.ensureBootstrapped(spark, root) == 0L)
    assert(Ivf.indexVersion(spark, root) == 0L)
    // ...so a crash between the first build and its commit leaves a
    // resolvable root (manifest 0 + an orphan the retry rebuilds), not
    // the manifest-less wedge the orphan guard refuses (ADVICE r11)
    Ivf.buildVersionDir(corpus, k = 3, root, v = 1L)
    assert(Ivf.indexVersion(spark, root) == 0L)
    val v1 = Ivf.writeVersionedIndex(corpus, k = 3, root)
    assert(v1 == 1L && Ivf.indexVersion(spark, root) == 1L)
    // a genuinely LOST manifest (deleted after versions committed) still
    // refuses loudly — that root needs a restore, never a republish
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root, "_latest"), false)
    val e = intercept[IllegalArgumentException] {
      Ivf.indexVersion(spark, root)
    }
    assert(e.getMessage.contains("_latest"))
  }

  test("versioned IVFADC triple: publish, append, retrain, compact, vacuum") {
    import graft.similarity.{Pq, PqSpec}
    val root = SparkFixture.tempDir("graft_vpq").toString + "/idx"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val resident = corpus.filter($"vec_id" < 40)
    val batch = corpus.filter($"vec_id" >= 40)
    val spec = PqSpec(m = 2, k = 4)
    val qs = Ann.selfQueries(corpus, 5)
    def probeV() = Ivf.ivfAdcTopKFromVersioned(spark, root, qs,
        k = 3, nprobe = 2)
      .select($"query_id", $"rank", $"neighbor_id", $"adc_dot")
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    def inMemory(c: org.apache.spark.sql.DataFrame) = {
      val cents = Ivf.train(c, k = 3, iters = 1)
      val cbs = Pq.trainCodebooks(c, m = 2, k = 4, dim = 16, iters = 1)
      Pq.ivfAdcTopK(c, qs, cents, cbs, k = 3, nprobe = 2)
        .select($"query_id", $"rank", $"neighbor_id", $"adc_dot")
        .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    }
    val v1 = Ivf.writeVersionedIndex(resident, k = 3, root, pq = Some(spec))
    assert(Ivf.readPqSpec(spark, root, v1) == Some(spec))
    // the versioned triple serves exactly the in-memory IVFADC result
    assert(probeV() == inMemory(resident))
    // a streamed batch lands raw rows AND codes under its ingest key —
    // the compressed serving table never goes stale against the raw one
    val cents1 = Ivf.localizeCentroids(
      spark.read.parquet(s"$root/v=$v1/centroids"))
    Ivf.writeBatchToVersion(spark, root, v1, batch, 0L, cents1)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/v=$v1/codes/ingest=b0")))
    // layered probe equals the FROZEN-model result over the union
    val frozen = {
      val centsR = Ivf.train(resident, k = 3, iters = 1)
      val cbsR = Pq.trainCodebooks(resident, m = 2, k = 4, dim = 16, iters = 1)
      Pq.ivfAdcTopK(corpus, qs, centsR, cbsR, k = 3, nprobe = 2)
        .select($"query_id", $"rank", $"neighbor_id", $"adc_dot")
        .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    }
    assert(probeV() == frozen)
    // a drift retrain refreshes the WHOLE triple under the stored spec —
    // the stale-codebook half the raw-store lifecycle was missing
    val v2 = Ivf.retrainFromStore(spark, root, kCents = 3)
    assert(v2 == v1 + 1)
    assert(Ivf.readPqSpec(spark, root, v2) == Some(spec))
    assert(Ivf.readFoldedThrough(spark, root, v2) == Some(0L))
    assert(probeV() == inMemory(corpus))
    val cb = (v: Long) => spark.read.parquet(s"$root/v=$v/codebooks")
      .as[(Int, Int, Array[Float])].collect().map(r => (r._1, r._2, r._3.toSeq))
      .toSeq.sortBy(t => (t._1, t._2))
    assert(cb(v1) != cb(v2)) // the codebooks actually retrained
    // cadence compaction folds the CODE layers too and carries the spec
    val batch2 = (60 until 70).map(i => (i.toLong, mkVec(i)))
      .toDF("vec_id", "embedding")
    val cents2 = Ivf.localizeCentroids(
      spark.read.parquet(s"$root/v=$v2/centroids"))
    Ivf.writeBatchToVersion(spark, root, v2, batch2, 1L, cents2)
    val layered = probeV()
    val (v3, _, _) = Ivf.compactVersion(spark, root)
    assert(v3 == v2 + 1)
    assert(Ivf.readPqSpec(spark, root, v3) == Some(spec))
    assert(Ivf.readFoldedThrough(spark, root, v3) == Some(1L))
    val codeLayers = fs.listStatus(new org.apache.hadoop.fs.Path(
        s"$root/v=$v3/codes")).map(_.getPath.getName)
      .count(_.startsWith("ingest="))
    assert(codeLayers == 1)
    assert(probeV() == layered)
    // vacuum retires the superseded triples wholesale
    assert(Ivf.vacuumVersions(spark, root, keepN = 1) == Seq(v1, v2))
    assert(probeV() == layered)
  }

  test("vacuumVersions minAge: a burst of publishes cannot retire a young version") {
    val root = SparkFixture.tempDir("graft_minage").toString + "/idx"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Ivf.writeVersionedIndex(corpus.filter($"vec_id" < 20), k = 2, root)
    Ivf.writeVersionedIndex(corpus.filter($"vec_id" < 40), k = 3, root)
    Ivf.writeVersionedIndex(corpus, k = 3, root)
    // every version is seconds old: a production age horizon keeps them
    // all, even below the keepN floor — an in-flight prober's version
    // can never vanish mid-probe during a publish burst
    assert(Ivf.vacuumVersions(spark, root, keepN = 1,
      minAgeMs = 3600L * 1000L) == Seq.empty)
    // a version with NO stamp (published before stamps existed) is
    // age-UNKNOWN: kept whenever an age horizon is requested
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$root/v=1/_committed_at"), false)
    Thread.sleep(30)
    assert(Ivf.vacuumVersions(spark, root, keepN = 1, minAgeMs = 10L)
      == Seq(2L))
    def dirs = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName).filter(_.startsWith("v=")).sorted.toSeq
    assert(dirs == Seq("v=1", "v=3"))
    // without the horizon the unstamped version retires as before
    assert(Ivf.vacuumVersions(spark, root, keepN = 1) == Seq(1L))
    assert(dirs == Seq("v=3"))
    intercept[IllegalArgumentException] {
      Ivf.vacuumVersions(spark, root, keepN = 1, minAgeMs = -1L)
    }
  }

  test("autoSamplePct sizes the sampled audit from the store") {
    assert(Ivf.autoSamplePct(0L) == 100)
    assert(Ivf.autoSamplePct(500L) == 100)
    assert(Ivf.autoSamplePct(1000L) == 100)
    assert(Ivf.autoSamplePct(2000L) == 50)
    assert(Ivf.autoSamplePct(30000L) == 4)  // the 30x stress shape: pct=10
                                            // over-reads, 4 is the floor
    assert(Ivf.autoSamplePct(1000000L) == 1)
    assert(Ivf.autoSamplePct(2000L, minSampleRows = 2000L) == 100)
    intercept[IllegalArgumentException] { Ivf.autoSamplePct(10L, 0L) }
    // AUTO on a store below the floor reads the FULL audit
    val root = SparkFixture.tempDir("graft_autopct").toString + "/idx"
    Ivf.writeVersionedIndex(corpus, k = 3, root)
    val qs = Ann.selfQueries(corpus, 5)
    val auto = Ivf.sampledAudit(spark, root, qs, k = 3, nprobe = 2,
        samplePct = Ivf.AutoSamplePct)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    val full = Ivf.sampledAudit(spark, root, qs, k = 3, nprobe = 2,
        samplePct = 100)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    assert(auto == full)
  }

  test("vacuumQueryLog bounds the serving-query log to the newest epochs") {
    val root = SparkFixture.tempDir("graft_logvac").toString + "/idx"
    Ivf.writeVersionedIndex(corpus, k = 3, root)
    // no log yet: a no-op, never an error
    assert(Ivf.vacuumQueryLog(spark, root, keepEpochs = 1) == Seq.empty)
    val qsA = Ann.selfQueries(corpus.filter($"vec_id" < 5), 3)
    val qsB = Ann.selfQueries(corpus.filter($"vec_id" >= 5 && $"vec_id" < 10), 3)
    Ivf.logQueries(spark, root, qsA, epoch = 0L)
    Ivf.logQueries(spark, root, qsA, epoch = 1L)
    Ivf.logQueries(spark, root, qsB, epoch = 2L)
    // keep 2: exactly the oldest epoch retires, ascending return
    assert(Ivf.vacuumQueryLog(spark, root, keepEpochs = 2) == Seq(0L))
    // idempotent; a keep wider than the log is a no-op
    assert(Ivf.vacuumQueryLog(spark, root, keepEpochs = 2) == Seq.empty)
    assert(Ivf.vacuumQueryLog(spark, root, keepEpochs = 10) == Seq.empty)
    // the replay after retention: newest-wins over the KEPT epochs —
    // epoch 2's workload plus epoch 1's still-remembered one
    val replayed = Ivf.workloadAudit(spark, root, k = 3, nprobe = 2,
        nQueries = 10)
      .select($"query_id").as[Long].collect().toSet
    assert(replayed ==
      (qsA.select($"query_id").as[Long].collect().toSet ++
        qsB.select($"query_id").as[Long].collect().toSet))
    // aging out: keep only the newest epoch and the dead workload's
    // ids stop voting — bounded recency, the semantics the audit wants
    assert(Ivf.vacuumQueryLog(spark, root, keepEpochs = 1) == Seq(1L))
    val aged = Ivf.workloadAudit(spark, root, k = 3, nprobe = 2,
        nQueries = 10)
      .select($"query_id").as[Long].collect().toSet
    assert(aged == qsB.select($"query_id").as[Long].collect().toSet)
    intercept[IllegalArgumentException] {
      Ivf.vacuumQueryLog(spark, root, keepEpochs = 0)
    }
  }

  test("adversarial object store: the manifest protocol holds where rename is copy+delete") {
    val conf = spark.sparkContext.hadoopConfiguration
    AdversarialFileSystem.install(conf)
    AdversarialFileSystem.reset()
    val renamedNames = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    AdversarialFileSystem.windowHook = dst => { renamedNames.add(dst.getName); () }
    val tmp = SparkFixture.tempDir("graft_advfs").toString
    val root = s"advfs://$tmp/idx"
    try {
      val qs = Ann.selfQueries(corpus, 5)
      def probe(r: String) =
        Ivf.ivfTopKFromVersioned(spark, r, qs, k = 3, nprobe = 2)
          .as[(Long, Long, Long, Double)].collect().toSeq.sorted
      // the full publish protocol runs on object-store rename semantics
      val v1 = Ivf.writeVersionedIndex(corpus.filter($"vec_id" < 40),
        k = 3, root)
      assert(v1 == 1L && Ivf.indexVersion(spark, root) == 1L)
      val served = probe(root)
      // crash schedule: a COMPLETE uncommitted build stays invisible and
      // the retry converges — on this store too
      Ivf.buildVersionDir(corpus, k = 3, root, v = 2L)
      assert(Ivf.indexVersion(spark, root) == 1L && probe(root) == served)
      val v2 = Ivf.writeVersionedIndex(corpus, k = 3, root)
      assert(v2 == 2L)
      // content-determinism across stores: the same publishes on POSIX
      // serve byte-identical results
      val local = SparkFixture.tempDir("graft_advfs_twin").toString + "/idx"
      Ivf.writeVersionedIndex(corpus.filter($"vec_id" < 40), k = 3, local)
      Ivf.writeVersionedIndex(corpus, k = 3, local)
      assert(probe(root) == probe(local))
      // the manifest NEVER rode a rename here — committed as one
      // overwrite-create (the PUT path), so there is no window at all
      assert(!renamedNames.contains("_latest"))
      // THE WINDOW IS REAL: force the tmp+rename commit path on this
      // store and observe `_latest` ABSENT mid-commit — the failure
      // mode the PUT path exists to avoid (ADVICE r11), demonstrated
      // rather than argued
      conf.set("graft.index.manifest.put.schemes", "none")
      @volatile var sawAbsent = false
      AdversarialFileSystem.windowHook = dst =>
        if (dst.getName == "_latest") {
          val afs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
          sawAbsent = !afs.exists(
            new org.apache.hadoop.fs.Path(s"$root/_latest"))
        }
      Ivf.commitVersion(spark, root, 2L, expected = 2L) // idempotent re-commit
      assert(sawAbsent)
      assert(Ivf.indexVersion(spark, root) == 2L)
      // and a READER landing in a rival's window is tolerated: the
      // bounded manifest retry rides out a transient absence instead of
      // declaring the commit object lost
      AdversarialFileSystem.reset()
      val afs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
      val manifest = new org.apache.hadoop.fs.Path(s"$root/_latest")
      afs.delete(manifest, false)
      val restorer = new Thread(() => {
        Thread.sleep(250)
        val out = afs.create(manifest, true)
        try out.write("2".getBytes("UTF-8")) finally out.close()
      })
      restorer.start()
      assert(Ivf.indexVersion(spark, root) == 2L)
      restorer.join()
    } finally {
      conf.unset("graft.index.manifest.put.schemes")
      AdversarialFileSystem.reset()
    }
  }
}
