package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.dedup.Dedup

/** Dedup semantics on constructed corpora with known duplicates. */
class DedupSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def corpus = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy cat near the river bank today"), // near dup of 0
    (3L, "completely unrelated text about query engines and columnar execution plans"),
    (4L, "another unrelated document discussing distributed shuffle partitioning")).toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeps min id") {
    val got = Dedup.exact(corpus).orderBy("keep_id")
      .select("keep_id", "n_dups").as[(Long, Long)].collect()
    assert(got.toSeq == Seq((0L, 2L), (2L, 1L), (3L, 1L), (4L, 1L)))
    assert(Dedup.exactKept(corpus).count() == 4)
  }

  test("minhash LSH finds exact and near duplicates, skips unrelated") {
    val pairs = Dedup.minhashPairs(corpus, threshold = 0.5, maxBucketSize = 100)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))       // identical → jaccard 1.0
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L))) // near dup
    assert(!pairs.contains((3L, 4L)))      // unrelated
  }

  test("minhash estimated jaccard is 1.0 for identical docs") {
    val est = Dedup.minhashPairs(corpus, threshold = 0.5)
      .filter(col("id_a") === 0 && col("id_b") === 1)
      .select("est_jaccard").as[Double].collect()
    assert(est.length == 1 && est(0) == 1.0)
  }

  test("winnowing: shared run >= window+k-1 tokens guarantees a shared fingerprint") {
    // docs 0/1 identical and 0/2 share long runs → pairs with shared
    // fingerprints; 3/4 unrelated → no pair. minShared=1 to test the
    // selection guarantee itself, not the pair threshold.
    val pairs = Dedup.winnowPairs(corpus, k = 3, window = 4, minShared = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L))) // shares "the quick brown fox jumps over the lazy" (8 >= 4+3-1)
    assert(!pairs.contains((3L, 4L)))
  }

  test("winnowing: identical docs share every selected fingerprint") {
    val shared = Dedup.winnowPairs(corpus, k = 3, window = 4, minShared = 1)
      .filter(col("id_a") === 0 && col("id_b") === 1)
      .select("shared").as[Long].collect()
    // doc 0 has 14 tokens → 12 grams → 9 windows; selected distinct
    // mins of doc 0 == those of its exact dup 1, and there are >= 2
    assert(shared.length == 1 && shared(0) >= 2)
  }

  test("winnowing: docs shorter than the window still fingerprint (truncated window)") {
    val tiny = Seq((0L, "alpha beta gamma"), (1L, "alpha beta gamma"))
      .toDF("doc_id", "text")
    // 3 tokens, k=3 → one gram, m=1 < window=4 → one truncated window
    val pairs = Dedup.winnowPairs(tiny, k = 3, window = 4, minShared = 1)
      .select("id_a", "id_b", "shared").as[(Long, Long, Long)].collect()
    assert(pairs.toSeq == Seq((0L, 1L, 1L)))
  }

  test("winnowing: hot-bucket cap suppresses degenerate fingerprints") {
    // 5 copies of one text: every selected fp sits in a 5-doc bucket;
    // cap 4 drops them all → no pairs
    val many = (0L to 4L).map(i => (i, "a b c d e f g h i j"))
      .toDF("doc_id", "text")
    assert(Dedup.winnowPairs(many, k = 3, window = 4, minShared = 1,
      maxBucketSize = 4).count() == 0)
    assert(Dedup.winnowPairs(many, k = 3, window = 4, minShared = 1,
      maxBucketSize = 5).count() == 10) // all C(5,2) pairs
  }

  test("simhash pairs find near dups within hamming budget") {
    val pairs = Dedup.simhashPairs(corpus, maxHamming = 16)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect()
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m.get((0L, 1L)).contains(0L))   // identical → distance 0
    assert(m.contains((0L, 2L)))           // near dup within 16 bits
  }

  test("ngram jaccard computes exact overlap ratio") {
    val pairs = Dedup.ngramJaccardPairs(corpus, n = 3, threshold = 0.1)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m.get((0L, 1L)).contains(1.0))
    // doc2 differs in 1 word → shares most 3-grams but not all
    assert(m((0L, 2L)) > 0.4 && m((0L, 2L)) < 1.0)
  }

  /** Driver-side oracle: union-find over the subgraph induced by `nodes`,
    * each node labeled with its component's minimum id. */
  private def ccOracle(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val up = scala.collection.mutable.Map(nodes.map(x => x -> x): _*)
    def root(x: Long): Long = if (up(x) == x) x else root(up(x))
    for ((a, b) <- edges if up.contains(a) && up.contains(b)) {
      val (ra, rb) = (root(a), root(b))
      up(math.max(ra, rb)) = math.min(ra, rb)
    }
    nodes.map(x => x -> root(x)).toMap
  }

  /** A small random graph with every shape the local seed must handle:
    * isolated nodes, a chain, self-loops, duplicate edges in both
    * orientations and edges to ids missing from the node set. */
  private def randomGraph(seed: Long): (Seq[Long], Seq[(Long, Long)]) = {
    val rnd = new scala.util.Random(seed)
    val nodes = (0L until 60L).filter(_ => rnd.nextInt(6) != 0)
    def anyId = rnd.nextInt(70).toLong // ids 60..69 and the gaps are no nodes
    val random = Seq.fill(30)((anyId, anyId))
    val chain = (20L until 36L).map(i => (i, i + 1))
    val edges = random ++ chain ++ random.take(6).map(_.swap) ++
      random.take(3) ++ nodes.take(3).map(x => (x, x))
    (nodes, rnd.shuffle(edges))
  }

  private def ccAt(width: Int, nodes: Seq[Long], edges: Seq[(Long, Long)],
      maxIter: Int = 16) =
    Dedup.connectedComponents(nodes.toDF("id").repartition(width),
      edges.toDF("src", "dst"), maxIter)

  test("connectedComponents labels chains, cliques, and singletons") {
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L)).toDF("src", "dst")
    val got = Dedup.connectedComponents(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L))
  }

  test("connectedComponents equals a union-find oracle at node widths 1, 3 and 8") {
    for (seed <- 1L to 4L; width <- Seq(1, 3, 8)) {
      val (nodes, edges) = randomGraph(seed)
      val got = ccAt(width, nodes, edges).as[(Long, Long)].collect()
      assert(got.length == nodes.size, s"seed $seed, width $width")
      assert(got.toMap == ccOracle(nodes, edges), s"seed $seed, width $width")
    }
  }

  test("connectedComponents at node width 1: one seed job, no round") {
    val (nodes, edges) = randomGraph(7L)
    val (got, rec) = graft.engine.Stages.record(spark) {
      ccAt(1, nodes, edges).as[(Long, Long)].collect()
    }
    // the collect runs under the restored (empty) description
    val labels = rec.jobs.flatMap(_.description)
    assert(labels.count(_ == "cc seed") == 1, labels)
    assert(!labels.exists(_.startsWith("cc round")), labels)
    assert(got.toMap == ccOracle(nodes, edges))
  }

  test("connectedComponents on a chain over 3 partitions runs rounds from the seed") {
    val nodes = 0L until 40L
    val edges = (0L until 39L).map(i => (i, i + 1))
    val (got, rec) = graft.engine.Stages.record(spark) {
      ccAt(3, nodes, edges).as[(Long, Long)].collect()
    }
    val labels = rec.jobs.flatMap(_.description)
    assert(labels.count(_ == "cc seed") == 1, labels)
    assert(labels.exists(_.startsWith("cc round")), labels)
    assert(got.toMap == ccOracle(nodes, edges))
  }

  test("connectedComponents fused convergence: maxIter honored, early exit converged") {
    // The convergence check rides the jump shuffle (fused into the round's
    // one action); this pins the loop's round semantics around that fusion.
    val n = 32
    val ids = 0L until n
    val chain = (0L until n - 1).map(i => (i, i + 1))
    // a chain hashed over 4 partitions: the seed cannot collapse it, and a
    // single round cannot both move labels and confirm the fixpoint, so
    // maxIter=1 must throw rather than return partial labels
    val e = intercept[IllegalStateException](ccAt(4, ids, chain, maxIter = 1))
    assert(e.getMessage.contains("after 1 rounds"), e.getMessage)
    // with headroom the loop early-exits at the fixpoint: all labels 0,
    // and a generous maxIter gives the same answer as a tight one
    val full = ccAt(4, ids, chain).as[(Long, Long)].collect().toMap
    assert(full.values.forall(_ == 0L))
    val tight = ccAt(4, ids, chain, maxIter = 8).as[(Long, Long)].collect().toMap
    assert(tight == full)
    // an edgeless graph converges immediately: every node keeps its own id
    val iso = ccAt(4, ids, Seq.empty).as[(Long, Long)].collect().toMap
    assert(iso == ids.map(i => i -> i).toMap)
  }

  test("nearDupSurvivors keeps one canonical doc per component plus untouched docs") {
    val docs = Seq((1L, "a"), (2L, "a"), (3L, "a"), (7L, "b"), (9L, "c"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = Dedup.nearDupSurvivors(docs, pairs)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 7L, 9L)) // chain 1-2-3 → keep 1; 7, 9 untouched
  }

  test("editDistancePairs equals the exact cross-join result (FastSS complete)") {
    val keys = Seq(
      (0L, "spark native engine"),
      (1L, "spark native enginee"),  // 1 insertion from 0
      (2L, "spark native engine"),   // exact dup of 0
      (3L, "sprak native engine"),   // transposition = 2 edits from 0
      (4L, "flink runtime core"),    // unrelated
      (5L, "a"), (6L, ""), (7L, "ab")) // degenerate shorts
      .toDF("doc_id", "k")
    val got = Dedup.editDistancePairs(keys, "k", maxDist = 2)
      .select("id_a", "id_b", "edit_dist").as[(Long, Long, Long)].collect().toSet
    // oracle: exact O(n²) levenshtein
    val expected = keys.as[(Long, String)].collect().combinations(2).collect {
      case Array((ia, ka), (ib, kb))
          if org.apache.commons.text.similarity.LevenshteinDistance.getDefaultInstance
            .apply(ka, kb) <= 2 =>
        val d = org.apache.commons.text.similarity.LevenshteinDistance
          .getDefaultInstance.apply(ka, kb).toLong
        (math.min(ia, ib), math.max(ia, ib), d)
    }.toSet
    assert(got == expected)
    assert(got.contains((0L, 2L, 0L)))
    assert(got.contains((0L, 1L, 1L)) || got.contains((0L, 1L, 2L)))
  }

  test("minhashVerifiedPairs survives degenerate docs and finds exact dups") {
    val docs = Seq(
      (0L, ""),                               // empty
      (1L, "ab"),                             // shorter than the shingle
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox jumps over the lazy dog again and again"),
      (4L, "completely unrelated content with other words entirely here"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashVerifiedPairs(docs, threshold = 0.7,
      maxBucketSize = 1000)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((2L, 3L)))
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(4L) })
  }

  test("estimateMinhashCandidates: exact pre-flight ceiling on verify pairs") {
    // two identical docs collide in every band; the unrelated doc and the
    // degenerate docs (empty / sub-shingle) must not inflate the estimate
    val docs = Seq(
      (0L, ""),
      (1L, "ab"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox jumps over the lazy dog again and again"),
      (4L, "completely unrelated content with other words entirely here"))
      .toDF("doc_id", "text")
    val est = Dedup.estimateMinhashCandidates(docs)
    // identical docs share all 16 bands -> exactly 16 in-bucket pairs,
    // unless doc 4 coincidentally shares a band (it must not here)
    assert(est == 16L)
    // the estimate upper-bounds the DISTINCT candidate pairs by
    // construction: the verified output here is the single (2,3) pair
    val pairs = Dedup.minhashVerifiedPairs(docs, threshold = 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.length <= est)
    // a cap below the duplicate bucket size zeroes the estimate (the
    // pipeline would drop those buckets too)
    assert(Dedup.estimateMinhashCandidates(docs, maxBucketSize = 1) == 0L)
  }

  test("chooseBucketCap: one-pass ladder picks largest rung under budget") {
    // a 3-clique of identical docs (48 in-bucket pairs: 3 per band x 16
    // bands) and a 2-clique (16 pairs), plus an unrelated doc
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox jumps over the lazy dog again and again"),
      (4L, "some other duplicated body shared by exactly two documents"),
      (5L, "some other duplicated body shared by exactly two documents"),
      (6L, "completely unrelated content with other words entirely here"))
      .toDF("doc_id", "text")
    // each ladder rung must agree with the single-cap estimator
    assert(Dedup.estimateMinhashCandidates(docs, maxBucketSize = 2) == 16L)
    assert(Dedup.estimateMinhashCandidates(docs, maxBucketSize = 3) == 64L)
    assert(Dedup.chooseBucketCap(docs, pairBudget = 100L,
      capLadder = Seq(2, 3)) == (3, 64L))
    assert(Dedup.chooseBucketCap(docs, pairBudget = 20L,
      capLadder = Seq(2, 3)) == (2, 16L))
    // nothing fits -> smallest rung with its over-budget ceiling
    assert(Dedup.chooseBucketCap(docs, pairBudget = 5L,
      capLadder = Seq(2, 3)) == (2, 16L))

    // the auto pipeline runs at the chosen rung: cap 2 drops the
    // 3-clique's buckets but keeps the 2-clique's pair
    val tight = Dedup.minhashVerifiedPairsAuto(docs, threshold = 0.7,
        pairBudget = 20L, capLadder = Seq(2, 3))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(tight == Set((4L, 5L)))
    val roomy = Dedup.minhashVerifiedPairsAuto(docs, threshold = 0.7,
        pairBudget = 100L, capLadder = Seq(2, 3))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(roomy == Set((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)))
    // over-budget corpus refuses loudly instead of launching the join
    val err = intercept[IllegalArgumentException] {
      Dedup.minhashVerifiedPairsAuto(docs, pairBudget = 5L,
        capLadder = Seq(2, 3))
    }
    assert(err.getMessage.contains("exact dedup"))
  }

  test("incremental dedup: new-only rows against a reference corpus") {
    val ref = Seq(
      (100L, "shared duplicated text body number one"),
      (101L, "reference only content alpha beta gamma")).toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "shared duplicated text body number one"),    // exact dup of 100
      (2L, "shared duplicated text body number one!"),   // near dup of 100
      (3L, "genuinely new content nothing like the rest and more besides"))
      .toDF("doc_id", "text")
    val exact = Dedup.exactNewOnly(incoming, ref)
      .select("doc_id").as[Long].collect().toSet
    assert(exact == Set(2L, 3L)) // only the byte-exact dup removed
    val near = Dedup.minhashNewOnly(incoming, ref, threshold = 0.7,
      maxBucketSize = 1000)
      .select("doc_id").as[Long].collect().toSet
    assert(near == Set(3L)) // the near-dup goes too
  }

  test("dedup_lines keeps first occurrence in order, handles empties") {
    import graft.functions.native
    val rows = Seq(
      (1L, "header\nbody a\nheader\nbody b\nheader"),
      (2L, "a\n\na\n\nb"), // duplicate empty lines collapse too
      (3L, ""),
      (4L, "only"))
      .toDF("doc_id", "text")
    val got = rows.select(col("doc_id"), native.dedup_lines(col("text")))
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "header\nbody a\nbody b")
    assert(got(2L) == "a\n\nb")
    assert(got(3L) == "")
    assert(got(4L) == "only")
  }

  test("exactNewOnlyBloom equals the plain anti-join (no false negatives)") {
    val incoming = Seq((1L, "aa"), (2L, "bb"), (3L, "cc"), (4L, "dd"))
      .toDF("doc_id", "text")
    val reference = Seq((10L, "bb"), (11L, "dd"), (12L, "zz"))
      .toDF("doc_id", "text")
    val got = Dedup.exactNewOnlyBloom(incoming, reference, expectedItems = 100L)
      .select("doc_id").as[Long].collect().sorted
    val want = Dedup.exactNewOnly(incoming, reference)
      .select("doc_id").as[Long].collect().sorted
    assert(got.toSeq == want.toSeq)
    assert(got.toSeq == Seq(1L, 3L))
  }

  test("ngramContainmentPairs catches a prompt quoted inside a large doc") {
    val prompt = "what is the capital of france answer in one word"
    val filler = (1 to 60).map(i => s"tok$i").mkString(" ")
    val train = Seq(
      (100L, s"$filler $prompt $filler"), // quotes the prompt verbatim
      (101L, filler)).toDF("doc_id", "text")
    val eval_ = Seq((1L, prompt)).toDF("doc_id", "text")

    val hits = Dedup.ngramContainmentPairs(train, eval_, n = 3,
      threshold = 0.9, maxDocFreq = 1000000)
      .select("eval_id", "train_id", "containment")
      .as[(Long, Long, Double)].collect()
    assert(hits.toSeq == Seq((1L, 100L, 1.0)))

    // the symmetric near-dup machinery CANNOT see this pair: tiny Jaccard
    val jac = Dedup.ngramJaccardPairs(
      train.union(eval_).toDF("doc_id", "text"), n = 3, threshold = 0.5,
      maxDocFreq = 1000000)
    assert(jac.filter(col("id_a") === 1L || col("id_b") === 1L).count() == 0)
  }

  test("editDistancePairs at maxDist=0 degrades to exact-key equality") {
    val keys = Seq((0L, "same"), (1L, "same"), (2L, "samX"), (3L, ""))
      .toDF("doc_id", "k")
    val got = Dedup.editDistancePairs(keys, "k", maxDist = 0)
      .select("id_a", "id_b", "edit_dist").as[(Long, Long, Long)].collect().toSet
    assert(got == Set((0L, 1L, 0L)))
  }

  test("embedding near-dup finds identical vectors") {
    val vecs = Seq(
      (0L, Array.fill(64)(0.5f)),
      (1L, Array.fill(64)(0.5f)),                       // identical to 0
      (2L, Array.tabulate(64)(i => if (i % 2 == 0) 1f else -1f))).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(vecs, threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._2 == 2L))
  }

  test("semantic near-dup equals brute force restricted to same cluster") {
    val emb = spark.read.parquet(s"${SparkFixture.sfDir}/embeddings.parquet")
    val got = Dedup.semanticNearDupPairs(emb, k = 4, threshold = 0.2)
      .select("id_a", "id_b", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    // brute-force reference: assign once with the same trained centroids,
    // enumerate ALL pairs via cross join, keep same-cluster ones over the
    // threshold — semanticNearDupPairs must find exactly these
    val cents = graft.similarity.Ivf.train(emb, k = 4, iters = 1)
    val a = graft.similarity.Ivf.assign(emb, cents)
    val l = a.select(col("vec_id").as("id_a"), col("embedding").as("va"),
      col("centroid_id").as("ca"))
    val r = a.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
      col("centroid_id").as("cb"))
    val want = l.crossJoin(r)
      .filter(col("id_a") < col("id_b") && col("ca") === col("cb"))
      .select(col("id_a"), col("id_b"),
        round(graft.functions.native.vec_cosine(col("va"), col("vb")), 6)
          .as("cosine"))
      .filter(col("cosine") >= 0.2)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("maskRepeatedSpans masks cross-doc k-gram spans, keeps unique text") {
    val docs = Seq(
      (1L, "the quick brown fox jumps high"),
      (2L, "lazy dog saw the quick brown fox sleep"),
      (3L, "completely unique words here"),
      (4L, "xx yy") // shorter than k: untouched
    ).toDF("doc_id", "text")
    val got = Dedup.maskRepeatedSpans(docs, k = 4, minDocs = 2)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    // "the quick brown fox" occurs in docs 1 and 2 → its 4 positions are
    // masked in both; everything else survives in order
    assert(got == Seq(
      (1L, "jumps high"),
      (2L, "lazy dog saw sleep"),
      (3L, "completely unique words here"),
      (4L, "xx yy")))
  }

  test("leakageSafeSplit co-assigns whole duplicate clusters to one split") {
    val docs = (0L until 40L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // chain 0-1-2 and pair 10-11 are dup clusters; the rest are singletons
    val pairs = Seq((0L, 1L), (1L, 2L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Dedup.leakageSafeSplit(docs, pairs, trainPct = 50)
      .select("doc_id", "component", "split")
      .as[(Long, Long, String)].collect().toSeq.sortBy(_._1)
    assert(got.size == 40)
    // every member of a component carries the same split label
    val byComp = got.groupBy(_._2).values
    assert(byComp.forall(g => g.map(_._3).distinct.size == 1))
    // the clusters really are clustered (component = min member id)
    val m = got.map(g => g._1 -> g._2).toMap
    assert(m(0L) == 0L && m(1L) == 0L && m(2L) == 0L)
    assert(m(10L) == 10L && m(11L) == 10L)
    // split agrees with the hash of the COMPONENT, not the member id
    val expected = graft.functions.Profile.hashBucket100(col("component"))
    val check = Dedup.leakageSafeSplit(docs, pairs, trainPct = 50)
      .withColumn("b", expected)
      .filter((col("b") < 50) =!= (col("split") === "train"))
    assert(check.count() == 0)
    // both labels occur (40 singleton hashes won't all land one side)
    assert(got.map(_._3).distinct.toSet == Set("train", "eval"))
  }

  test("dedupReport: cross-stratum dup charged to the later doc's stratum") {
    import spark.implicits._
    val docs = Seq(
      (1L, "same text", "srcA"),
      (2L, "same text", "srcB"),   // dup of 1, charged to srcB
      (3L, "unique one", "srcA"),
      (4L, "same text", "srcA"))   // dup of 1, charged to srcA
      .toDF("doc_id", "text", "source")
    val got = Dedup.dedupReport(docs).orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got == Seq(("srcA", 3L, 1L, 1.0 / 3.0), ("srcB", 1L, 1L, 1.0)))
  }

  test("sortedNeighborhoodPairs: window catches prefix-sorted dups, " +
      "documents the out-of-window miss") {
    import spark.implicits._
    // three near-identical docs sharing a prefix sort adjacent; doc 40
    // is a near-dup of 10 but starts differently -> lands in another
    // block: the documented blocking miss
    val docs = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),
      (11L, "alpha beta gamma delta epsilon eta"),
      (12L, "alpha beta gamma delta theta iota"),
      (20L, "unrelated words entirely different content here"),
      (40L, "zeta alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val got = Dedup.sortedNeighborhoodPairs(docs, n = 3, windowSize = 4,
        blockChars = 2, keyChars = 12, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    // 10-11 and 10-12/11-12 verified in-window; (10,40) missed by design
    assert(got.contains((10L, 11L)))
    assert(!got.contains((10L, 40L)))
    assert(got.forall { case (a, b) => a < b })
    // hot-block cap: capping at 2 drops the 3-doc "al" block entirely
    // (recall-for-survival, same trade as the LSH bucket cap)
    val capped = Dedup.sortedNeighborhoodPairs(docs, n = 3, windowSize = 4,
        blockChars = 2, keyChars = 12, threshold = 0.4, maxBlockSize = 2)
      .collect()
    assert(capped.isEmpty)
  }
}
