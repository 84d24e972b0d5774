package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.native

/** Distributed deduplication for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding-cosine. Beyond-reference capability
  * (the reference's only dedup is row-level DISTINCT,
  * ref: src/plan/logical/distinct.rs:8-16).
  *
  * Scale design (the whole point at 100 TB):
  *  - No driver-side materialization anywhere — every stage is a map,
  *    hash-shuffle, or aggregate that Catalyst plans with partial/final
  *    phases and AQE.
  *  - Candidate generation is always *bucketed* (LSH bands / simhash chunks /
  *    shared n-grams), never an O(n²) cross join. Pair enumeration happens
  *    inside buckets only.
  *  - Hot buckets are capped (`maxBucketSize`): a degenerate key (e.g. the
  *    empty document) would otherwise explode quadratically — the cap turns
  *    the worst case into a no-op and is the standard skew guard.
  *  - All hashes are the deterministic FNV-based kernels from
  *    expressions.scala — reproducible across runs/partitions/clusters.
  */
object Dedup {

  /** Exact dedup: canonical row per duplicate group = lowest id. Pure
    * hash aggregate (map-side combine + single shuffle on the group hash).
    * Grouping on md5(text) rather than the full text keeps shuffle rows
    * small when documents are megabytes. */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Rows that survive exact dedup (the kept representatives). */
  def exactKept(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val keep = exact(docs, textCol, idCol).select(col("keep_id").as(idCol))
    docs.join(keep, idCol) // broadcast or shuffle join — Catalyst/AQE picks
  }

  // ---------------------------------------------------------------- MinHash

  /** Skew guard shared by all bucketed candidate generators: drop buckets
    * whose population exceeds `cap`. Implemented as partial-aggregated
    * count + broadcast LEFT ANTI join against the (tiny) hot-bucket list —
    * cheaper than a window over the full data, which would shuffle and
    * materialize every row per bucket. */
  private[dedup] def dropHotBuckets(df: DataFrame, keys: Seq[String], cap: Int): DataFrame = {
    val hot = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > cap)
      .select(keys.map(col): _*)
    df.join(broadcast(hot), keys, "left_anti")
  }

  /** MinHash signature column: array<bigint> of length `numHashes` over the
    * document's byte-shingle set. Native one-pass expression
    * (MinHashKernel in expressions.scala) — one scan of the document
    * computes all k permutation minima. */
  def minhashSignature(text: Column, numHashes: Int = 64, shingle: Int = 5): Column =
    native.minhash_sig(text, numHashes, shingle)

  /** Candidate near-dup pairs via banded LSH over minhash signatures.
    *
    * Pipeline: signature → band bucket keys (native, one pass) → posexplode
    * → bucket self-join → estimated Jaccard (signature agreement) ≥
    * threshold. The self-join is on (band_id, band_hash) — a key-
    * partitioned shuffle join, never a cross join; hot buckets are dropped
    * first (`dropHotBuckets`), and the distinct on pairs runs on the slim
    * (id_a, id_b, est) projection, not on the 64-slot signatures.
    */
  def minhashPairs(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      numHashes: Int = 64, bands: Int = 16, shingle: Int = 5,
      threshold: Double = 0.7, maxBucketSize: Int = 1000): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")

    // The signature scan feeds four lineage branches (hot-bucket agg, the
    // anti join, and both sides of the self-join); persist the slim
    // (id, sig) projection so the document scan + hashing runs once.
    val sig = docs.select(col(idCol).as("id"),
      minhashSignature(col(textCol), numHashes, shingle).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val banded = sig.select(col("id"), col("sig"),
      posexplode(native.minhash_bands(col("sig"), bands)).as(Seq("band_id", "band_hash")))

    val bucketed = dropHotBuckets(banded, Seq("band_id", "band_hash"), maxBucketSize)

    val l = bucketed.select(col("band_id"), col("band_hash"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val r = bucketed.select(col("band_id"), col("band_hash"),
      col("id").as("id_b"), col("sig").as("sig_b"))

    // Estimated Jaccard = fraction of agreeing signature slots (native
    // kernel), computed at join time so signatures never travel through
    // the distinct shuffle.
    val agree = native.sig_agree(col("sig_a"), col("sig_b")).cast(DoubleType)
    l.join(r, Seq("band_id", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), (agree / numHashes.toDouble).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .dropDuplicates("id_a", "id_b")
  }

  /** MinHash-LSH candidates re-verified with the EXACT byte-shingle Jaccard
    * the signatures estimate — the production shape (candidates are cheap
    * and approximate; survivors are exact) and the oracle-checkable one:
    * the emitted pair set equals {pairs with exact shingle-Jaccard >=
    * threshold} exactly when banding recall covers every true pair, which
    * the full O(n²) DuckDB twin verifies at gate scale. Banding runs with
    * NO estimate filter (threshold 0.0) so the only filter is the exact
    * one; `bands` trades candidate volume against recall as usual.
    *
    * Candidate-volume control on adversarial corpora (shared vocabulary →
    * banding selectivity collapses, SCALE.md): a PROVABLY LOSSLESS size
    * filter. j(a,b) = shared/union <= min(|a|,|b|)/max(|a|,|b|) because
    * shared <= min and union >= max, so any pair failing
    * min >= threshold*max cannot reach the threshold and is dropped
    * BEFORE pair-dedup and the shingle-array join — carrying one extra
    * long per side through the band join, not the 64-slot signatures.
    * (A sig_agree estimate prefilter was measured instead and rejected:
    * on this corpus est-Jaccard at any recall-safe margin cut <6% of
    * candidates while hauling both signature arrays through the join —
    * the size filter cuts ~64% here and can never lose a true pair.)
    *
    * Sizing `maxBucketSize` (the 100x stress lesson, SCALE.md "Second
    * decade"): the exact-verify join moves Θ(candidate pairs × shingle
    * bytes), and candidate pairs grow QUADRATICALLY in bucket size — a
    * boilerplate-heavy corpus whose naturally-hot bands hold B docs
    * contributes ~B²/2 pairs per bucket up to the cap. Size the cap to
    * the EXPECTED TRUE near-dup cluster size (a few × the largest real
    * clique you intend to link), not to the corpus: at 500k docs the
    * default 1000 admits a ~0.5 TB verify join where a cap of 64 — still
    * 6x the true 10-member cliques there — verifies the same true pairs
    * in 77 s. Capped-out buckets are boilerplate by construction; route
    * them to exact dedup (they collide on FULL bands) rather than raising
    * the cap. */
  /** ONE feature pass for the verified-minhash family: (id, band hashes,
    * shingle set, size). Zero-shingle docs (shorter than the shingle
    * width) have no defined Jaccard and are excluded up front, matching
    * the oracle's len(gs) > 0 guard (two such docs otherwise collide in
    * every band and the union term divides by zero under ANSI mode). */
  private def minhashFeatures(docs: DataFrame, textCol: String,
      idCol: String, numHashes: Int, bands: Int, shingle: Int): DataFrame =
    docs.select(col(idCol).as("id"),
        native.minhash_bands(
          minhashSignature(col(textCol), numHashes, shingle), bands).as("bh"),
        native.char_shingle_hashes(col(textCol), shingle).as("sh"))
      .withColumn("n_sh", size(col("sh")).cast(LongType))
      .filter(col("n_sh") > 0)

  def minhashVerifiedPairs(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", numHashes: Int = 64, bands: Int = 16,
      shingle: Int = 5, threshold: Double = 0.7,
      maxBucketSize: Int = 1000): DataFrame = {
    // ONE persisted feature pass feeds both the banding and the verify
    // branches (band hashes + shingle set + its size) — previously the
    // shingle kernel ran once per lineage branch.
    val feat = minhashFeatures(docs, textCol, idCol, numHashes, bands, shingle)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    verifiedPairsOfFeatures(feat, threshold, maxBucketSize)
  }

  /** The banding + size-prefilter + exact-verify body of
    * [[minhashVerifiedPairs]] over an already-persisted feature table —
    * shared with [[minhashVerifiedPairsAuto]] so the auto-capped entry
    * point prices its ladder and runs the pipeline off ONE kernel pass. */
  private def verifiedPairsOfFeatures(feat: DataFrame, threshold: Double,
      maxBucketSize: Int): DataFrame = {
    // Candidate generation is SLIM by design: only (band keys, id, size)
    // travel through the self-join — not signatures or shingle arrays.
    // The sides are round-robin-spread to the session's shuffle
    // parallelism first: the band join's output otherwise inherits the
    // (few) scan partitions, and the pair-dedup's map-side partial
    // aggregate would run nearly serially (measured 4.5 s → ~1.5 s at
    // sf0.1). A keyed repartition would NOT do: a hot band bucket is one
    // key, round-robin spreads its pair enumeration across all tasks.
    val banded = feat.select(col("id"), col("n_sh"),
      posexplode(col("bh")).as(Seq("band_id", "band_hash")))
    val bucketed = dropHotBuckets(banded, Seq("band_id", "band_hash"), maxBucketSize)
    val par = feat.sparkSession.sessionState.conf.numShufflePartitions
    // 1e-9 slack keeps the one-rounding size inequality strictly more
    // permissive than the exact two-sided jaccard compare at the boundary
    val cand = bucketed.select(col("band_id"), col("band_hash"),
        col("id").as("id_a"), col("n_sh").as("na"))
      .repartition(par)
      .join(bucketed.select(col("band_id"), col("band_hash"),
          col("id").as("id_b"), col("n_sh").as("nb"))
        .repartition(par), // spread BOTH sides: the streamed side's layout
                           // becomes the join output's, whichever it is
        Seq("band_id", "band_hash"))
      .filter(col("id_a") < col("id_b") &&
        least(col("na"), col("nb")).cast(DoubleType) >=
          lit(threshold - 1e-9) * greatest(col("na"), col("nb")).cast(DoubleType))
      .dropDuplicates("id_a", "id_b")
      .select("id_a", "id_b")
    val a = feat.select(col("id").as("id_a"), col("sh").as("sh_a"), col("n_sh").as("na"))
    val b = feat.select(col("id").as("id_b"), col("sh").as("sh_b"), col("n_sh").as("nb"))
    cand.join(a, "id_a").join(b, "id_b")
      .withColumn("shared", native.sorted_intersect(col("sh_a"), col("sh_b")).cast(LongType))
      .select(col("id_a"), col("id_b"),
        (col("shared").cast(DoubleType) /
          (col("na") + col("nb") - col("shared")).cast(DoubleType)).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact ceiling on the candidate-pair rows [[minhashVerifiedPairs]]'
    * verify join will enumerate at this `maxBucketSize`: Σ over surviving
    * buckets of n·(n−1)/2 (pre-dedup, so a strict upper bound on the
    * distinct pairs whose shingle arrays the verify join must move). One
    * slim aggregate over the banded keys — no signatures or shingle
    * arrays travel, so this costs a corpus scan plus one shuffle of
    * (band, hash) longs and can be run as a cheap pre-flight on an
    * unfamiliar corpus. Budget rule of thumb from the 100x stress
    * (SCALE.md "Second decade"): verify bytes ≈ pairs × 2 × avg shingle
    * bytes; gate with
    * `require(estimate < budget)` BEFORE launching a multi-TB join, or
    * lower `maxBucketSize` until the estimate fits. */
  def estimateMinhashCandidates(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", numHashes: Int = 64, bands: Int = 16,
      shingle: Int = 5, maxBucketSize: Int = 1000): Long =
    // one-rung ladder with an unbounded budget: the single-cap estimate
    // IS the ladder evaluation, so the two entry points cannot diverge
    chooseBucketCap(docs, textCol, idCol, numHashes, bands, shingle,
      pairBudget = Long.MaxValue, capLadder = Seq(maxBucketSize))._2

  /** Corpus-aware bucket-cap chooser: evaluates the capped candidate-pair
    * ceiling ([[estimateMinhashCandidates]]) for every rung of a cap
    * ladder in ONE aggregate pass and returns the largest cap whose
    * ceiling fits `pairBudget`, together with that ceiling. This is the
    * automatic gate the scaladoc of [[minhashVerifiedPairs]] asks callers
    * to run by hand: the bucket-size table is computed once (one corpus
    * scan + one slim shuffle of (band, hash) longs — no signatures or
    * shingle arrays travel) and each rung is a conditional sum over it,
    * so the whole ladder costs the same as a single estimate.
    *
    * The ceiling is monotone in the cap (a larger cap only admits more
    * buckets), so "largest rung that fits" is well-defined. If even the
    * smallest rung exceeds the budget the smallest rung is returned with
    * its (over-budget) ceiling — the caller decides whether to proceed;
    * [[minhashVerifiedPairsAuto]] refuses loudly. */
  def chooseBucketCap(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", numHashes: Int = 64, bands: Int = 16,
      shingle: Int = 5, pairBudget: Long = 100000000L,
      capLadder: Seq[Int] = Seq(16, 64, 256, 1000, 4000)): (Int, Long) =
    pickBucketCap(
      minhashFeatures(docs, textCol, idCol, numHashes, bands, shingle),
      pairBudget, capLadder)

  /** The ladder evaluation over a [[minhashFeatures]] table — the same
    * zero-shingle exclusion and banding as the pipeline, so the budgeted
    * join is always the join [[minhashVerifiedPairs]] actually runs: the
    * largest rung whose candidate-pair ceiling fits `pairBudget`, with
    * that ceiling, or the smallest rung with its over-budget ceiling. */
  private def pickBucketCap(feat: DataFrame, pairBudget: Long,
      capLadder: Seq[Int]): (Int, Long) = {
    require(capLadder.nonEmpty, "capLadder must not be empty")
    require(capLadder == capLadder.sorted && capLadder.distinct == capLadder,
      s"capLadder must be strictly increasing, got $capLadder")
    require(pairBudget > 0, s"pairBudget must be positive, got $pairBudget")
    // only (band, hash) keys travel: signatures and shingle arrays are
    // pruned before the bucket-size shuffle
    val sizes = feat
      .select(posexplode(col("bh")).as(Seq("band_id", "band_hash")))
      .groupBy("band_id", "band_hash").agg(count(lit(1)).as("n"))
    // one wide aggregate row: Σ n(n−1)/2 over buckets surviving each rung
    val rungCols = capLadder.map(c =>
      coalesce(sum(when(col("n") <= c, col("n") * (col("n") - 1) / 2)),
        lit(0L)).cast(LongType).as(s"cap_$c"))
    val row = sizes.agg(rungCols.head, rungCols.tail: _*).head()
    val ceilings = capLadder.indices.map(i => capLadder(i) -> row.getLong(i))
    ceilings.reverse.find(_._2 <= pairBudget).getOrElse(ceilings.head)
  }

  /** [[minhashVerifiedPairs]] with the bucket cap chosen automatically by
    * [[chooseBucketCap]] against an explicit candidate-pair budget — the
    * closed-loop version of the "estimate before you join" guidance: on
    * an unfamiliar corpus the pre-flight costs one extra scan and
    * guarantees the verify join enumerates at most `pairBudget` candidate
    * pairs (verify bytes ≈ pairs × 2 × avg shingle-array bytes; the
    * default budget of 1e8 pairs ≈ low-tens-of-GB shuffle at typical
    * 5-byte-shingle documents — tune to the cluster). Refuses loudly if
    * even the smallest ladder rung exceeds the budget: a corpus that hot
    * is boilerplate-dominated and should go through exact dedup first
    * (capped-out buckets collide on FULL bands), not a bigger join. */
  def minhashVerifiedPairsAuto(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", numHashes: Int = 64, bands: Int = 16,
      shingle: Int = 5, threshold: Double = 0.7,
      pairBudget: Long = 100000000L,
      capLadder: Seq[Int] = Seq(16, 64, 256, 1000, 4000)): DataFrame = {
    // ONE kernel pass for pre-flight AND pipeline: the ladder is priced
    // over the same persisted feature table the verified pipeline then
    // reads (guide §1.2: don't compute things twice)
    val feat = minhashFeatures(docs, textCol, idCol, numHashes, bands, shingle)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // a refusal (bad ladder or budget, or over budget) must not leak the
    // cached features (the knnGraphAuto unpersist-before-throw rule)
    try {
      val (cap, ceiling) = pickBucketCap(feat, pairBudget, capLadder)
      require(ceiling <= pairBudget, s"even the smallest bucket cap " +
        s"${capLadder.head} admits $ceiling candidate pairs (> budget " +
        s"$pairBudget): run exact dedup on the boilerplate first or " +
        "raise the budget explicitly")
      verifiedPairsOfFeatures(feat, threshold, cap)
    } catch { case e: IllegalArgumentException =>
      feat.unpersist(blocking = false)
      throw e
    }
  }

  // ---------------------------------------------------------------- SimHash

  /** SimHash near-dup pairs with Hamming distance <= maxHamming.
    * Candidate generation via the pigeonhole trick: split the 64-bit hash
    * into `chunks` 16-bit pieces; any pair within distance k < chunks must
    * agree on at least one piece → bucket-join on (chunk_id, chunk_value).
    */
  def simhashPairs(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      maxHamming: Int = 3, maxBucketSize: Int = 1000): DataFrame = {
    val chunks = 4 // 4 x 16-bit pieces of the 64-bit simhash
    val withHash = docs.select(col(idCol).as("id"),
      native.simhash64(col(textCol)).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val chunkVals = array((0 until chunks).map(i =>
      shiftrightunsigned(col("sh"), i * 16).bitwiseAND(lit(0xffffL))): _*)
    val banded = dropHotBuckets(
      withHash.select(col("id"), col("sh"),
        posexplode(chunkVals).as(Seq("chunk_id", "chunk_val"))),
      Seq("chunk_id", "chunk_val"), maxBucketSize)

    val l = banded.select(col("chunk_id"), col("chunk_val"), col("id").as("id_a"), col("sh").as("sh_a"))
    val r = banded.select(col("chunk_id"), col("chunk_val"), col("id").as("id_b"), col("sh").as("sh_b"))
    l.join(r, Seq("chunk_id", "chunk_val"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast(LongType).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash threshold calibration: for every candidate pair within the
    * pigeonhole-complete Hamming radius, report the 64-bit Hamming
    * distance NEXT TO the exact byte-shingle Jaccard — the table that
    * answers "what Hamming cutoff equals Jaccard ≥ t on MY corpus"
    * before committing a production radius. Pure composition of the two
    * verified primitives (simhashPairs candidates + the minhash verify
    * branch's exact shingle intersect), so cost and plan shape are
    * theirs. */
  def simhashCalibration(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", maxHamming: Int = 3, shingle: Int = 5,
      maxBucketSize: Int = 1000): DataFrame = {
    val pairs = simhashPairs(docs, textCol, idCol, maxHamming, maxBucketSize)
    val sh = docs.select(col(idCol).as("id"),
        native.char_shingle_hashes(col(textCol), shingle).as("sh"))
      .withColumn("n_sh", size(col("sh")).cast(LongType))
    val a = sh.select(col("id").as("id_a"), col("sh").as("sh_a"),
      col("n_sh").as("na"))
    val b = sh.select(col("id").as("id_b"), col("sh").as("sh_b"),
      col("n_sh").as("nb"))
    pairs.join(a, "id_a").join(b, "id_b")
      .filter(col("na") > 0 && col("nb") > 0)
      .withColumn("shared",
        native.sorted_intersect(col("sh_a"), col("sh_b")).cast(LongType))
      .select(col("id_a"), col("id_b"), col("hamming"),
        (col("shared").cast(DoubleType) /
          (col("na") + col("nb") - col("shared")).cast(DoubleType))
          .as("jaccard"))
  }

  // ---------------------------------------------------- n-gram Jaccard

  /** Exact n-gram Jaccard pairs >= threshold via prefix-filtered inverted
    * index (PPJoin-style):
    *
    *  1. Rank each document's grams by GLOBAL rarity (document frequency
    *     asc, gram asc — a total order shared by all docs).
    *  2. Index only each doc's prefix: the first |A| - ceil(t*|A|) + 1
    *     grams. Prefix principle: two docs with Jaccard >= t must share at
    *     least one gram inside both prefixes under any common total order —
    *     pairs sharing only suffix grams are provably below t and never
    *     become candidates.
    *  3. Candidate pairs = self-join of the prefix postings (rarest grams
    *     → tiny fan-out); verify with exact Jaccard over the full
    *     fingerprint sets (sorted-merge intersect, native kernel).
    *
    * Versus a naive full inverted index this cuts join fan-out by the
    * (1-t) prefix fraction *and* concentrates it on rare grams, while
    * full-set verification keeps the result exact. `maxDocFreq` remains a
    * skew guard for degenerate prefix grams (boilerplate rare enough to
    * enter prefixes but still hot); it costs recall only for pairs with no
    * other shared rare gram. */
  def ngramJaccardPairs(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      n: Int = 3, threshold: Double = 0.5, maxDocFreq: Int = 500): DataFrame = {
    // Grams are 64-bit FNV fingerprints, not strings: every downstream
    // shuffle/join/aggregate moves fixed-width longs, and verification is a
    // sorted-merge intersect (the arrays come out of the kernel sorted)
    // instead of a per-pair hash set over strings — 4-5x cheaper end to end
    // at sf0.1. Jaccard over fingerprints equals Jaccard over grams up to
    // the 64-bit collision epsilon (~1e-11 per pair).
    val grams = docs.select(col(idCol).as("id"),
        native.word_ngram_hashes(col(textCol), n).as("grams"))
      .withColumn("n_grams", size(col("grams")).cast(LongType))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val posting = grams.select(col("id"), col("n_grams"), explode(col("grams")).as("gram"))
    val gramDf = posting.groupBy("gram").agg(count(lit(1)).as("df"))

    // rank grams within each doc by global rarity; keep only the prefix
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df").asc, col("gram").asc)
    val prefixLen = (col("n_grams") - ceil(col("n_grams") * threshold) + 1).cast(LongType)
    val prefix = posting.join(gramDf.filter(col("df") <= maxDocFreq), "gram")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= prefixLen)
      .select(col("gram"), col("id"), col("rank"), col("n_grams"))

    // Position filter (PPJoin): a shared prefix gram at ranks (pa, pb) caps
    // the possible overlap at 1 + min(|A|-pa, |B|-pb); Jaccard >= t needs
    // overlap >= t/(1+t) * (|A|+|B|). Pairs that fail the bound for their
    // BEST shared gram cannot reach the threshold — pruned before the
    // (comparatively expensive) full-set verification. The bound is applied
    // without ceil and with an epsilon so float rounding can only keep a
    // borderline pair, never drop a valid one.
    val pa = prefix.select(col("gram"), col("id").as("id_a"),
      col("rank").as("pa"), col("n_grams").as("na"))
    val pb = prefix.select(col("gram"), col("id").as("id_b"),
      col("rank").as("pb"), col("n_grams").as("nb"))
    val minOverlap = (col("na") + col("nb")) * (threshold / (1.0 + threshold)) - 1e-9
    val cand = pa.join(pb, "gram")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "na", "nb")
      .agg(max(least(col("na") - col("pa"), col("nb") - col("pb"))).as("slack"))
      .filter((col("slack") + 1).cast(DoubleType) >= minOverlap)
      .select("id_a", "id_b")

    // exact verification over full gram sets
    val ga = grams.select(col("id").as("id_a"), col("grams").as("grams_a"),
      col("n_grams").as("na"))
    val gb = grams.select(col("id").as("id_b"), col("grams").as("grams_b"),
      col("n_grams").as("nb"))
    cand.join(ga, "id_a").join(gb, "id_b")
      .withColumn("shared", native.sorted_intersect(col("grams_a"), col("grams_b")).cast(LongType))
      .select(col("id_a"), col("id_b"),
        (col("shared").cast(DoubleType) /
          (col("na") + col("nb") - col("shared")).cast(DoubleType)).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Sorted-neighborhood near-dup blocking (Hernández & Stolfo 1995):
    * sort records by a lexicographic key (text prefix), slide a fixed
    * window of `windowSize` down the sorted order, and emit only pairs
    * that fall in the same window — the third classic blocking paradigm
    * next to LSH banding and PPJoin prefix postings, and the cheapest one
    * when near-dups share a PREFIX (templated titles, boilerplate heads).
    * Candidates are then exact-verified with the same fingerprint Jaccard
    * as ngramJaccardPairs, so the output is exact w.r.t. the blocking:
    * it misses pairs whose sort keys land > windowSize apart AND — because
    * the lead() window runs per `blockChars`-prefix block, not over the
    * global sort order — pairs that are within windowSize globally but
    * straddle a block-prefix boundary (exercised in DedupSpec). Callers
    * needing boundary recall should widen blockChars so near-dups share
    * the full prefix, not rely on a global-window guarantee.
    *
    * Scale shape: blocks partition by the first `blockChars` of the key,
    * so the sliding window is a lead() over a BOUNDED block partition,
    * never a global window; the window pass carries only (block, key, id)
    * — gram arrays join back per candidate pair afterwards, so the
    * window shuffle moves slim rows. A skewed corpus (every page starting
    * with the same boilerplate head) can still concentrate one block:
    * `maxBlockSize` drops such blocks outright — the same
    * recall-for-survival trade as the LSH hot-bucket cap, and the same
    * measurement obligation before relying on it (widen `blockChars`
    * first; a wider prefix splits a hot block without losing its
    * in-window pairs). The contract query runs uncapped so its exact
    * twin stays two-sided. */
  def sortedNeighborhoodPairs(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 3, windowSize: Int = 4,
      blockChars: Int = 2, keyChars: Int = 12,
      threshold: Double = 0.5,
      maxBlockSize: Int = Int.MaxValue): DataFrame = {
    require(windowSize >= 2, "windowSize must be at least 2")
    val grams = docs.select(col(idCol).as("id"),
        native.word_ngram_hashes(col(textCol), n).as("grams"))
      .withColumn("n_grams", size(col("grams")).cast(LongType))
    val slim0 = docs.select(col(idCol).as("id"),
      substring(col(textCol), 1, keyChars).as("skey"),
      substring(col(textCol), 1, blockChars).as("block"))
    val slim =
      if (maxBlockSize == Int.MaxValue) slim0
      else dropHotBuckets(slim0, Seq("block"), maxBlockSize)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("block").orderBy(col("skey"), col("id"))
    val cand = slim
      .select(col("id").as("id_x"),
        array((1 until windowSize).map(i => lead(col("id"), i).over(w)): _*)
          .as("nbrs"))
      .select(col("id_x"), explode(col("nbrs")).as("id_y"))
      .filter(col("id_y").isNotNull)
      .select(least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"))
      .distinct()
    val ga = grams.select(col("id").as("id_a"), col("grams").as("grams_a"),
      col("n_grams").as("na"))
    val gb = grams.select(col("id").as("id_b"), col("grams").as("grams_b"),
      col("n_grams").as("nb"))
    cand.join(ga, "id_a").join(gb, "id_b")
      .withColumn("shared",
        native.sorted_intersect(col("grams_a"), col("grams_b"))
          .cast(LongType))
      .filter(col("na") > 0 && col("nb") > 0)
      .select(col("id_a"), col("id_b"),
        (col("shared").cast(DoubleType) /
          (col("na") + col("nb") - col("shared")).cast(DoubleType))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Per-stratum dedup impact report: how many of each stratum's rows
    * are exact duplicates of earlier content ANYWHERE in the corpus
    * (keep-first-by-id policy, same as exactDedup) — the ops dashboard a
    * curation run publishes per source/feed: which feeds are pumping
    * copies. Returns (stratum, n_docs, n_dups, dup_rate); counts exact
    * longs, rate one quotient. Cross-stratum duplicates are charged to
    * the LATER doc's stratum, so the per-stratum dup counts sum to the
    * corpus dup count. One md5 groupBy (16-byte shuffle keys) + a
    * co-keyed join + one stratum groupBy. */
  def dedupReport(docs: DataFrame, stratumCol: String = "source",
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val hashed = docs.select(col(idCol).as("id"), col(stratumCol),
      md5(col(textCol)).as("h"))
    val firsts = hashed.groupBy("h").agg(min(col("id")).as("keeper"))
    hashed.join(firsts, "h")
      .groupBy(stratumCol)
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("id") =!= col("keeper"), 1L).otherwise(0L))
          .as("n_dups"))
      .withColumn("dup_rate",
        col("n_dups").cast(DoubleType) / col("n_docs").cast(DoubleType))
  }

  // ------------------------------------------- incremental (cross-corpus)

  /** Incremental exact dedup: rows of `incoming` whose text does not
    * appear in `reference` — the snapshot-over-snapshot pipeline op
    * (dedup crawl N against crawl N-1 without re-clustering the union).
    * Left-anti hash join on md5(text): 16-byte join keys, and the
    * reference side is reduced to DISTINCT hashes first so the join input
    * is |distinct reference texts|, not |reference rows|. */
  def exactNewOnly(incoming: DataFrame, reference: DataFrame,
      textCol: String = "text"): DataFrame = {
    val refHashes = reference.select(md5(col(textCol)).as("__ref_hash")).distinct()
    incoming.join(refHashes, md5(col(textCol)) === col("__ref_hash"), "left_anti")
  }

  /** Incremental exact dedup with a BROADCAST BLOOM prefilter — the shape
    * that wins when the reference corpus is huge and mostly disjoint from
    * the incoming crawl: instead of shuffling every incoming row into an
    * anti-join against |reference| distinct hashes, build one bloom filter
    * over the reference keys (an aggregate whose result is sized by BITS,
    * not rows — fp 3% at the default bits/item, driver- and
    * broadcast-friendly by construction) and split incoming with it.
    * Bloom filters have NO false negatives, so rows the filter rejects are
    * definitely new and skip the join entirely; only the `might_contain`
    * survivors (true dups + ~fp% of new rows) pay the exact anti-join.
    * The result is therefore PROVABLY identical to [[exactNewOnly]] —
    * q_dedup_bloom runs against the same DuckDB oracle. Uses Spark's own
    * BloomFilterAggregate/BloomFilterMightContain (the expressions behind
    * runtime row-level filtering), driven directly since they have no
    * public DSL surface. */
  def exactNewOnlyBloom(incoming: DataFrame, reference: DataFrame,
      textCol: String = "text", expectedItems: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftx.Bridge
    val key = xxhash64(md5(col(textCol)))
    val bfCol = Bridge.column(new BloomFilterAggregate(
      Bridge.expression(key), expectedItems).toAggregateExpression())
    val bf = reference.select(bfCol.as("bf")).head.getAs[Array[Byte]](0)
    val mightContain = Bridge.column(BloomFilterMightContain(
      Bridge.expression(lit(bf)), Bridge.expression(key)))
    incoming.filter(!mightContain)
      .unionAll(exactNewOnly(incoming.filter(mightContain), reference, textCol))
  }

  /** Incremental NEAR-dup dedup: rows of `incoming` with no reference doc
    * at exact byte-shingle Jaccard >= threshold. Same shape as
    * minhashVerifiedPairs but across two corpora: banding candidates are
    * an equi-join of the two band tables (incoming side never self-joins),
    * survivors verified with the exact sorted-merge intersect, and the
    * matched incoming ids anti-joined away. At 100 TB the reference band
    * table is written once (partitioned by band) and every new crawl joins
    * against it — the reference corpus itself never reshuffles. */
  def minhashNewOnly(incoming: DataFrame, reference: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      numHashes: Int = 64, bands: Int = 16, shingle: Int = 5,
      threshold: Double = 0.7, maxBucketSize: Int = 1000): DataFrame = {
    // ONE feature pass per corpus (band hashes + shingle set + size),
    // persisted and shared by the banding and the verify branches — the
    // kernels run once per document, not once per lineage branch. The
    // shingle-set SIZE rides along with the band rows: one long per side
    // buys the lossless size filter below (j <= min/max — see
    // minhashVerifiedPairs; the (0,0) boundary pair is kept, matching the
    // verify rule's multiplication form where two empty docs ARE dups, so
    // zero-shingle docs are NOT excluded here). At 100 TB the reference
    // feature table is the thing you write ONCE per snapshot and reuse
    // for every incoming crawl.
    def feat(docs: DataFrame) = docs.select(col(idCol).as("id"),
        native.minhash_bands(
          minhashSignature(col(textCol), numHashes, shingle), bands).as("bh"),
        native.char_shingle_hashes(col(textCol), shingle).as("sh"))
      .withColumn("n_sh", size(col("sh")).cast(LongType))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val refFeat = feat(reference)
    val inFeat = feat(incoming)
    def banded(f: DataFrame) = f.select(col("id"), col("n_sh"),
      posexplode(col("bh")).as(Seq("band_id", "band_hash")))
    val refBands = dropHotBuckets(banded(refFeat),
      Seq("band_id", "band_hash"), maxBucketSize)
    val cand = banded(inFeat).select(col("band_id"), col("band_hash"),
        col("id").as("id_in"), col("n_sh").as("n_in"))
      .join(refBands.select(col("band_id"), col("band_hash"),
          col("id").as("id_ref"), col("n_sh").as("n_ref")),
        Seq("band_id", "band_hash"))
      .filter(least(col("n_in"), col("n_ref")).cast(DoubleType) >=
        lit(threshold - 1e-9) *
          greatest(col("n_in"), col("n_ref")).cast(DoubleType))
      .select("id_in", "id_ref").dropDuplicates("id_in", "id_ref")
    val dupIn = cand
      .join(inFeat.select(col("id").as("id_in"),
        col("sh").as("sh_in"), col("n_sh").as("n_in")), "id_in")
      .join(refFeat.select(col("id").as("id_ref"),
        col("sh").as("sh_ref"), col("n_sh").as("n_ref")), "id_ref")
      .withColumn("shared", native.sorted_intersect(col("sh_in"), col("sh_ref")).cast(LongType))
      .filter(col("shared").cast(DoubleType) >=
        (col("n_in") + col("n_ref") - col("shared")).cast(DoubleType) * threshold)
      .select(col("id_in").as(idCol)).distinct()
    incoming.join(dupIn, idCol, "left_anti")
  }

  // ------------------------------------------------- decontamination

  /** Train/eval contamination pairs: (eval doc, train doc) where the
    * fraction of the EVAL doc's word n-grams contained in the train doc
    * reaches `threshold` — the asymmetric overlap used for benchmark
    * decontamination (an eval prompt quoted inside a large training doc
    * scores ~1.0 while its symmetric Jaccard is near 0, so near-dup
    * machinery cannot find it). Candidates come from the shared-gram
    * posting join on 64-bit fingerprints with a df cap on boilerplate
    * grams; the posting-join match count IS the exact intersection size
    * (both gram sets are distinct), so there is no second verify pass. */
  def ngramContainmentPairs(train: DataFrame, evalDocs: DataFrame,
      textCol: String = "text", idCol: String = "doc_id", n: Int = 3,
      threshold: Double = 0.8, maxDocFreq: Int = 10000): DataFrame = {
    val eg = evalDocs.select(col(idCol).as("eval_id"),
        native.word_ngram_hashes(col(textCol), n).as("grams"))
      .withColumn("n_e", size(col("grams")).cast(LongType))
      .filter(col("n_e") > 0)
    val pe = eg.select(col("eval_id"), col("n_e"), explode(col("grams")).as("gram"))
    val pt = train.select(col(idCol).as("train_id"),
      explode(native.word_ngram_hashes(col(textCol), n)).as("gram"))
    pe.join(dropHotBuckets(pt, Seq("gram"), maxDocFreq), "gram")
      .groupBy("eval_id", "train_id", "n_e")
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared").cast(DoubleType) >= col("n_e").cast(DoubleType) * threshold)
      .select(col("eval_id"), col("train_id"),
        (col("shared").cast(DoubleType) / col("n_e").cast(DoubleType)).as("containment"))
  }

  // ------------------------------------------------- fuzzy (edit-distance) join

  /** Edit-distance <= maxDist self-join on a SHORT string key, bucketed —
    * never a cross join. Candidates via FastSS deletion neighborhoods
    * (EditKernel in expressions.scala): two keys within distance k always
    * share a <=k-deletion variant, so candidate generation is an equi-join
    * on variant fingerprints; exact `levenshtein` verifies each candidate.
    * Complete by the FastSS theorem (no false negatives — q_fuzzy_join_docs
    * proves it against the full O(n²) DuckDB twin), with the usual hot-
    * bucket cap as the skew guard: a bucket over `maxBucketSize` means a
    * near-dup clique that large, where quadratic pair output is inherent —
    * cap it or drown.
    *
    * Scale: the posting table is |rows| × C(L, <=k) fixed-width longs plus
    * the short key — for L=24, k=2 that is 301 variants/row, shuffled once
    * into a hash join. Targets short keys (titles, codes, prefixes);
    * neighborhood growth is O(L^k), so apply to a bounded-length column,
    * not whole documents. */
  def editDistancePairs(docs: DataFrame, keyCol: String, idCol: String = "doc_id",
      maxDist: Int = 2, maxBucketSize: Int = 1000): DataFrame = {
    // Persist the posting: the neighborhood kernel is the pipeline's
    // dominant cost and four lineage branches read it (hot-bucket agg,
    // anti join, both self-join sides) — without the persist it would be
    // recomputed per branch (measured 4x at sf0.1). The kernel input is
    // spread first (Tables.spreadForKernel): C(L, <=k) variants per row
    // is exactly the per-row-compute-bound case a single-split scan
    // serializes (A/B: 3.5-5.2 s -> 1.6-2.4 s at sf0.1 on local[32]).
    val posted = graft.engine.Tables.spreadForKernel(
        docs.select(col(idCol).as("id"), col(keyCol).as("key")))
      .select(col("id"), col("key"),
        explode(native.deletion_variant_hashes(col("key"), maxDist)).as("variant"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bucketed = dropHotBuckets(posted, Seq("variant"), maxBucketSize)
    val l = bucketed.select(col("variant"), col("id").as("id_a"), col("key").as("key_a"))
    val r = bucketed.select(col("variant"), col("id").as("id_b"), col("key").as("key_b"))
    l.join(r, "variant")
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"),
        levenshtein(col("key_a"), col("key_b")).cast(LongType).as("edit_dist"))
      .filter(col("edit_dist") <= maxDist)
  }

  // ------------------------------------------- near-dup pair clustering

  /** Distributed connected components over a pair graph — the step that
    * turns near-dup PAIRS into dedup GROUPS (each doc labeled with the
    * minimum id of its component, the canonical survivor).
    *
    * Nodes and the adjacency list are hash-partitioned ONCE by one pinned
    * HashPartitioner — the case the RDD escape hatch exists for (GraphX is
    * built the same way): every later join is co-partitioned.
    *
    * Local seed first: one zipPartitions pass runs a union-find over the
    * edges whose two endpoints are nodes of the same partition, labels
    * each node with the minimum id of its local component, and flags each
    * node with an edge to an id hashed into another partition. One
    * `foreach` materializes the seed and counts the flagged nodes. With
    * none flagged every component lies inside one partition: the seed is
    * the answer and no round runs (one job; a one-partition node input,
    * as at bench scale, always ends here).
    *
    * Rounds run only while labels can still move: min-label propagation
    * with pointer jumping (label(x) ← label(label(x))), O(log diameter)
    * rounds from the seed, stopping at the first round that changes no
    * label. That test is exact because every label is the id of a node in
    * the same component, ≤ the node's own id, and the component minimum
    * labels itself: true of the seed and kept by every round. A round is
    * two shuffles (the neighbor-min reduce and the pointer-jump re-key)
    * and ONE action that materializes its labels and counts changes (the
    * round-start label rides the jump shuffle). Hash partitioning scatters
    * consecutive-id chains, so a wide node input still runs rounds:
    * q_connected_components' nodes forced to 3 partitions keep their
    * 4 rounds at sf0.1, with the same labels.
    *
    * Lineage: each round's labels are persisted and locally checkpointed
    * by its action, then the previous round's blocks are freed, as in
    * [[graft.engine.Fixpoint]]. The jobs carry the descriptions "cc seed"
    * and "cc round <i>"; the caller's description is restored afterwards.
    * Reaching `maxIter` rounds without a round of no change throws.
    *
    * `nodes`: one column `id`. `edges`: columns `src`, `dst` (undirected;
    * an edge with an endpoint missing from `nodes` carries no label).
    * Output: (id, component).
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 16): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val sc = spark.sparkContext
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // Partition width sized by the DATA, not the core count: the loop's
    // two shuffles per round run over the label table, whose volume
    // tracks the node input's scan splits (bytes/maxPartitionBytes) —
    // a handful at bench scale, thousands at 100 TB. Pinning to
    // defaultParallelism made every round pay cores-many tasks on
    // KB-sized label sets (the r12 scaling block's 0.63 ratio: 32-core
    // slower than 8-core), while at cluster scale the core count is the
    // wrong number too (label bytes want bytes-sized width). Width
    // comes from `nodes` ONLY: the node frame is scan-shaped at every
    // call site, so `.rdd.getNumPartitions` is free — probing the
    // edges frame here would eagerly execute its AQE stages (the pair
    // generation!) once for the probe and once for the loop.
    val part = new org.apache.spark.HashPartitioner(
      math.max(1, nodes.rdd.getNumPartitions))
    // adjacency keyed by the NEIGHBOR (dst) so labels join co-partitioned
    val byDst = edges.select(col("src"), col("dst")).as[(Long, Long)].rdd
      .flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      .map { case (src, dst) => (dst, src) }
      .partitionBy(part).persist(level)
    // (id, (seed label, has an edge into another partition))
    val seed = nodes.select(col("id")).as[Long].rdd.map(x => (x, ()))
      .partitionBy(part)
      .zipPartitions(byDst, preservesPartitioning = true)(localComponents(part))
      .persist(level)
    val callerDescription = sc.getLocalProperty("spark.job.description")
    try {
      sc.setJobDescription("cc seed")
      // CORRECTNESS GUARD: accumulators are exactly-once only for ACTIONS
      // (`foreach`) — Spark re-applies updates from resubmitted result
      // tasks idempotently. Counting in a TRANSFORMATION (e.g. a mapValues
      // tap materialized by some later action) would double-count under
      // task retry. Both counts below stay on a foreach.
      val crossing = sc.longAccumulator("cc_crossing")
      seed.foreach { case (_, (_, cross)) => if (cross) crossing.add(1L) }
      var labels = seed.mapValues(_._1) // narrow view of the persist
      var store: org.apache.spark.rdd.RDD[_] = seed // the persist behind `labels`
      var moving = crossing.value > 0L
      var i = 0
      while (moving) {
        if (i == maxIter) throw new IllegalStateException(
          s"connectedComponents: labels still changing after $maxIter rounds")
        i += 1
        sc.setJobDescription(s"cc round $i")
        // 1) pull: deliver each node's label to its neighbors, keep the min
        val nbrMin = byDst.join(labels) // co-partitioned: no shuffle
          .map { case (_, (src, lab)) => (src, lab) }
          .reduceByKey(part, (a: Long, b: Long) => math.min(a, b)) // shuffle 1
        // (newLabel, roundStartLabel): the old label rides the jump shuffle
        // (+8 bytes/row) so the change count needs no pass of its own
        val pulled = labels.leftOuterJoin(nbrMin).mapValues {
          case (own, nb) => (math.min(own, nb.getOrElse(own)), own)
        }
        val pulledNew = pulled.mapValues(_._1) // co-partitioned view
        // 2) jump: follow the label to ITS label (doubles reach per round).
        // A double jump (one more slim shuffle per round to halve the
        // rounds) was measured and rejected: near-dup graphs converge in
        // 1-2 rounds, so the extra shuffle is pure overhead.
        val byLabel = pulled.map { case (id, (lab, old)) => (lab, (id, old)) }
          .partitionBy(part) // shuffle 2
        val jumped = byLabel.leftOuterJoin(pulledNew) // co-partitioned
          .map { case (lab, ((id, old), ll)) => (id, (ll.getOrElse(lab), old)) }
          .partitionBy(part).persist(level)
        jumped.localCheckpoint() // cut by the action below, from the persist
        val changed = sc.longAccumulator("cc_changed")
        jumped.foreach { case (_, (nl, ol)) => if (nl != ol) changed.add(1L) }
        store.unpersist(blocking = false)
        store = jumped
        labels = jumped.mapValues(_._1)
        moving = changed.value > 0L
      }
      // DELIBERATE: the last persist (`store`) stays cached — the result is
      // a lazy view over it. ContextCleaner reclaims it once the result is
      // unreachable, and the bench's per-query isolate() clears it.
      labels.toDF("id", "component")
    } finally {
      byDst.unpersist(blocking = false)
      sc.setJobDescription(callerDescription)
    }
  }

  /** One partition's local components for [[connectedComponents]]'s seed:
    * a union-find over the adjacency rows (dst, src) whose two endpoints
    * are nodes of this partition, each set rooted at its minimum id. A row
    * whose src hashes into another partition flags its dst (the edge may
    * join two partitions' components); a row whose src hashes here but is
    * no node carries nothing. One output row per input node row. */
  private def localComponents(part: org.apache.spark.Partitioner)(
      own: Iterator[(Long, Unit)],
      adj: Iterator[(Long, Long)]): Iterator[(Long, (Long, Boolean))] = {
    val rows = own.map(_._1).toArray
    val slot = new scala.collection.mutable.LongMap[Int]
    rows.foreach(x => slot.getOrElseUpdate(x, slot.size))
    val id = new Array[Long](slot.size)
    slot.foreach { case (x, i) => id(i) = x }
    val up = Array.range(0, id.length)
    val cross = new Array[Boolean](id.length)
    def root(i: Int): Int = {
      var r = i
      while (up(r) != r) r = up(r)
      var j = i // path compression
      while (up(j) != r) { val n = up(j); up(j) = r; j = n }
      r
    }
    adj.foreach { case (dst, src) =>
      slot.get(dst).foreach { d =>
        if (part.getPartition(src) != part.getPartition(dst)) cross(d) = true
        else slot.get(src).foreach { s =>
          val (a, b) = (root(d), root(s))
          if (id(a) < id(b)) up(b) = a else up(a) = b
        }
      }
    }
    rows.iterator.map { x => val i = slot(x); (x, (id(root(i)), cross(i))) }
  }

  /** End-to-end near-dup dedup: given candidate PAIRS (from any of the
    * pair generators), cluster them into components and keep one canonical
    * document per component — the component's minimum id — plus every
    * document that appears in no pair. This is the composition a training
    * pipeline actually runs: pairs → connectedComponents → survivors. */
  def nearDupSurvivors(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val nodes = docs.select(col(idCol).as("id"))
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    val cc = connectedComponents(nodes, edges)
    docs.join(cc.filter(col("id") === col("component")).select(col("id").as(idCol)),
      Seq(idCol))
  }

  /** Near-dup survivors keeping the BEST member of each duplicate cluster
    * by `score` (ties → lowest id) instead of the lowest id — the usual
    * production policy is score = document length ("keep the most complete
    * copy") or a quality score. One extra component-keyed aggregate on top
    * of the same pointer-jumping clustering; `max` over (score, -id)
    * structs is the deterministic argmax, partial+final like any
    * aggregate. */
  def nearDupSurvivorsBy(docs: DataFrame, pairs: DataFrame, score: Column,
      idCol: String = "doc_id"): DataFrame = {
    val nodes = docs.select(col(idCol).as("id"))
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    val cc = connectedComponents(nodes, edges)
    val scored = docs.select(col(idCol).as("id"), score.as("s")).join(cc, "id")
    val best = scored.groupBy(col("component"))
      .agg(max(struct(col("s"), (-col("id")).as("nid"))).as("b"))
      .select((-col("b.nid")).as(idCol))
    docs.join(best, Seq(idCol))
  }

  /** Leakage-safe train/eval split: near-duplicate documents must land in
    * the SAME split, or eval becomes a memorization test (train/test
    * contamination via duplicates — the failure whole-row hash splits
    * can't prevent). Composition: candidate pairs → connected components
    * → deterministic hash split on the COMPONENT label (each component's
    * minimum doc id), so the whole duplicate cluster co-assigns; singleton
    * docs split on their own id as usual. The split hash is the same
    * width-safe two-limb multiplicative hash every sampler here uses
    * (Profile.hash32) — reproducible across runs, partitionings, and
    * engines. Adds one equi-join to the clustering cost. */
  def leakageSafeSplit(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", trainPct: Int = 80): DataFrame = {
    val nodes = docs.select(col(idCol).as("id"))
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    val cc = connectedComponents(nodes, edges)
    val bucket = graft.functions.Profile.hashBucket100(col("component"))
    docs.join(cc.withColumnRenamed("id", idCol), Seq(idCol))
      .withColumn("split",
        when(bucket < trainPct, "train").otherwise("eval"))
  }

  // ------------------------------------------------- embedding near-dup

  /** Exact substring dedup (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better"): any word k-gram occurring in at least
    * `minDocs` distinct documents is a repeated span; every token position
    * covered by a repeated span is masked out of its document (surviving
    * tokens keep their order). This removes shared boilerplate *passages*
    * that whole-document dedup can't see and line-level dedup only catches
    * when the span aligns with a line.
    *
    * Scale shape — aggregates and equi-joins only, no windows:
    *  1. tokens and k-grams are derived per-row with array ops (narrow);
    *  2. the repeated-gram set is distinct(doc, gram) → count → filter,
    *     partial-aggregated before each shuffle. Grams are compared as
    *     STRINGS (engine-portable), not hashes — at 100 TB swap in a
    *     128-bit fingerprint kernel to cut shuffle bytes;
    *  3. covered positions = equi-join occurrences × repeated grams
    *     (shuffle join — the repeated set is NOT assumed small, unlike
    *     `removeBoilerplate`'s broadcast), exploded to k positions,
    *     distinct;
    *  4. surviving tokens = anti-join on (doc, pos), reassembled with one
    *     groupBy; fully-masked docs re-attach as empty strings.
    */
  def maskRepeatedSpans(docs: DataFrame, k: Int, minDocs: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol), split(col(textCol), " ").as("toks"))
    // positional 64-bit gram fingerprints (native one-pass kernel; the
    // k-token gram's joined string is the raw byte range, so the hash
    // equals FNV of the joined string) — the shuffle/groupBy below carries
    // fixed-width longs instead of ~50-byte gram strings, the same trade
    // ngramJaccardPairs makes (64-bit collision epsilon, caught by the
    // oracle gate if it ever fired)
    val occ = docs.select(col(idCol),
      posexplode(native.span_gram_hashes(col(textCol), k))
        .as(Seq("gpos", "gram")))
    val repeated = occ.select(col(idCol), col("gram")).distinct()
      .groupBy("gram").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs).select("gram")
    // Covered positions as ONE array per doc (groupBy on doc id), then the
    // rebuild is a narrow per-row array filter against the original token
    // array — no token-level anti-join shuffle, no collect_list re-sort.
    // (A prior formulation shuffled every token twice; this shuffles only
    // gram hits once. Per-row cost is O(len·|cov|) via array_contains —
    // bounded-doc-length precondition, same as the FastSS kernel.)
    val covered = occ.join(repeated, Seq("gram"))
      .groupBy(col(idCol))
      .agg(array_distinct(flatten(collect_list(
        sequence(col("gpos"), col("gpos") + (k - 1))))).as("cov"))
    toks.join(covered, Seq(idCol), "left")
      .select(col(idCol),
        when(col("cov").isNull, array_join(col("toks"), " "))
          .otherwise(array_join(
            transform(
              filter(
                transform(col("toks"), (t, i) => struct(i.as("pos"), t.as("tok"))),
                s => !array_contains(col("cov"), s.getField("pos"))),
              s => s.getField("tok")), " "))
          .as("cleaned"))
  }

  /** Winnowing fingerprint near-duplicates (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS algorithm). Each document is reduced to the
    * set of window-minimum k-token-gram hashes: slide a window of
    * `window` consecutive positional gram hashes and keep the minimum of
    * each window. The selection guarantees that any shared run of at
    * least `window + k - 1` tokens contributes at least one IDENTICAL
    * selected fingerprint to both documents, while keeping only
    * ~2/(window+1) of all grams — a density/recall dial the full n-gram
    * join ([[ngramJaccardPairs]]) doesn't have. Pairs sharing >=
    * `minShared` selected fingerprints are reported.
    *
    * Scale shape: the per-document selection is a narrow row-local array
    * expression over the one-pass native gram-hash kernel
    * ([[graft.functions.native.span_gram_hashes]]) — no shuffle until the
    * slim (fingerprint, id) explode. Candidates then come from the
    * standard bucketed self-join on the fingerprint with the hot-bucket
    * cap; shuffle volume is the *selected* fingerprints (~2/(window+1) of
    * the gram stream), which is what makes winnowing the cheap
    * fingerprinting path at 100 TB. */
  def winnowPairs(docs: DataFrame, k: Int = 4, window: Int = 8,
      minShared: Long = 2, idCol: String = "doc_id",
      textCol: String = "text", maxBucketSize: Int = 2000): DataFrame = {
    require(k >= 1 && window >= 1, "k and window must be positive")
    val g = docs
      .select(col(idCol), native.span_gram_hashes(col(textCol), k).as("hs"))
      .filter(size(col("hs")) > 0)
    // Windows are indexed 0..max(m-window, 0): full windows when m >=
    // window, one truncated window over all m grams otherwise (so short
    // documents still fingerprint). array_min compares signed longs —
    // the DuckDB twin maps its HUGEINT hashes to signed BIGINT before
    // its window-min for the identical ordering.
    val selected = g.select(col(idCol),
      explode(array_distinct(transform(
        sequence(lit(0), greatest(size(col("hs")) - window, lit(0))),
        i => array_min(slice(col("hs"), i + 1,
          least(lit(window), size(col("hs")))))))).as("fp"))
    val capped = dropHotBuckets(selected, Seq("fp"), maxBucketSize)
    val l = capped.select(col("fp"), col(idCol).as("id_a"))
    val r = capped.select(col("fp"), col(idCol).as("id_b"))
    l.join(r, "fp").filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** SemDeDup-style semantic near-duplicates (Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the embedding corpus, then compare
    * pairs ONLY within a cluster — exact cosine inside, zero comparisons
    * across. The second embedding-dedup scale path next to hyperplane LSH
    * ([[embeddingNearDupPairs]]): LSH bounds work via many small random
    * buckets (a pair can collide in several), k-means via data-adaptive
    * partitions (each vector in exactly ONE cluster, so pairs are unique by
    * construction — no dropDuplicates pass). Work drops from O(n²) to
    * O(Σ cᵢ²); at 100 TB, k grows with the corpus to keep cᵢ bounded, the
    * pair join shuffles both sides once on centroid_id, and a degenerate
    * cluster (mass at one point) is skew-capped like every other bucketed
    * generator here. Training reuses the bit-deterministic Lloyd fold from
    * Ivf.train, which is what lets q_semdedup carry a full DuckDB twin of
    * the whole path (seeds → Lloyd → assignment → within-cluster cosine). */
  def semanticNearDupPairs(emb: DataFrame, k: Int, threshold: Double,
      vecCol: String = "embedding", idCol: String = "vec_id",
      iters: Int = 1, maxClusterSize: Int = 100000,
      dim: Int = -1): DataFrame = {
    // dim defaults to -1 → Ivf.train infers it from the first vector, so
    // embeddings wider than the old hardcoded 64 train on every dimension
    val cents = graft.similarity.Ivf.train(emb, k, iters, idCol, vecCol, dim)
    val assigned = graft.similarity.Ivf.assign(emb, cents, idCol, vecCol)
      .select(col("centroid_id"), col(idCol).as("id"), col(vecCol).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val capped = dropHotBuckets(assigned, Seq("centroid_id"), maxClusterSize)
    val l = capped.select(col("centroid_id"), col("id").as("id_a"), col("v").as("va"))
    val r = capped.select(col("centroid_id"), col("id").as("id_b"), col("v").as("vb"))
    l.join(r, "centroid_id").filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(native.vec_cosine(col("va"), col("vb")), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Embedding near-duplicates: cosine >= threshold, candidates via
    * random-hyperplane LSH (sign bits → bucket) computed with the native
    * vec_dot expression. See Ann.scala for the plane construction. */
  def embeddingNearDupPairs(emb: DataFrame, vecCol: String = "embedding",
      idCol: String = "vec_id", threshold: Double = 0.95,
      planes: Int = 12, dim: Int = 64, maxBucketSize: Int = 2000): DataFrame = {
    val bucketed = dropHotBuckets(
      graft.similarity.Ann.withLshBucket(emb, vecCol, planes, dim)
        .select(col(idCol).as("id"), col(vecCol).as("v"), col("lsh_bucket"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      Seq("lsh_bucket"), maxBucketSize)

    val l = bucketed.select(col("lsh_bucket"), col("id").as("id_a"), col("v").as("va"))
    val r = bucketed.select(col("lsh_bucket"), col("id").as("id_b"), col("v").as("vb"))
    l.join(r, "lsh_bucket").filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"),
        round(native.vec_cosine(col("va"), col("vb")), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
