package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.Fixpoint

/** Model-evaluation estimators a training pipeline runs over its eval
  * logs: the unbiased pass@k estimator (Chen et al. 2021, "Evaluating
  * Large Language Models Trained on Code", eq. 1) and Bradley-Terry
  * preference-strength fitting (Hunter 2004 MM iteration) — the scoring
  * backbone of preference/RLHF data curation. Both are pure
  * DataFrame-declared plans (beyond the reference's surface — its eval
  * story ends at aggregates, src/expression/logical/aggregate.rs).
  *
  * Determinism contract: every double expression is a FIXED fold — the
  * pass@k product is unrolled left-to-right at plan time, and the BT
  * per-item denominator sums are ordered folds over
  * sort_array(collect_list(...)) exactly like graph.PageRank — so a
  * DuckDB oracle replays the arithmetic bit-for-bit.
  */
object Evaluation {

  /** Unbiased pass@k per problem: given `n` samples of which `c` passed,
    * pass@k = 1 - C(n-c, k)/C(n, k), computed as the numerically-stable
    * telescoped product 1 - Π_{i=0}^{k-1} (n-c-i)/(n-i) (the form the
    * Codex paper recommends). The product is UNROLLED into a fixed
    * left-to-right double chain of exactly k terms, so the IEEE result is
    * reproducible on any engine — no pow/lgamma, whose libm varies.
    *
    * Guards: c = 0 → 0.0 exactly (skips the chain, which would divide by
    * zero when n < k); n - c < k → 1.0 exactly (some k-subset must
    * contain a pass). Otherwise n - c >= k implies every denominator
    * n - i >= n - k + 1 >= c + 1 > 0.
    *
    * Scale shape: one hash aggregate over the attempt log (map-side
    * partial counts), then a narrow per-group expression — no second
    * shuffle, no window. */
  def passAtK(attempts: DataFrame, problemCol: String, passedCol: Column,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val agg = attempts.groupBy(col(problemCol))
      .agg(count(lit(1)).as("n"),
        sum(when(passedCol, 1L).otherwise(0L)).as("c"))
    val nD = col("n").cast(DoubleType)
    val cD = col("c").cast(DoubleType)
    // Π_{i=0}^{k-1} (n-c-i)/(n-i), left-to-right
    val prod = (0 until k).foldLeft(lit(1.0).cast(DoubleType): Column) {
      (acc, i) =>
        acc * ((nD - cD - lit(i.toDouble)) / (nD - lit(i.toDouble)))
    }
    agg.select(col(problemCol), col("n"), col("c"),
      when(col("c") === 0L, lit(0.0))
        .when(col("n") - col("c") < k.toLong, lit(1.0))
        .otherwise(lit(1.0) - prod)
        .as("pass_at_k"))
  }

  /** Bradley-Terry strengths from a pairwise win table via Hunter's MM
    * update: w_i ← W_i / Σ_{j≠i} n_ij / (w_i + w_j), where W_i is i's
    * total wins and n_ij the number of i-vs-j comparisons, then each
    * round rescales so the strengths sum to the item count (fixing the
    * scale invariance). Input `wins` has one row per ordered pair
    * (winner, loser, w = win count); items with no comparisons drop out.
    *
    * Determinism: the per-item denominator is an ordered fold over
    * opponents sorted by id, and the normalization sum an ordered fold
    * over items — both bounded by the item-vocabulary size, which for
    * preference data (models, prompt sources, labeler cohorts) is an
    * aggregate-level cardinality, not corpus-sized. The corpus-sized
    * work — reducing raw comparisons to the win table — happens once
    * upstream in exact integers.
    *
    * Scale shape per round: two broadcast-sized joins of the pair table
    * against the m-row weight table and one hash aggregate; the raw
    * event log is never touched again after the win table is built. Each
    * round is one [[graft.engine.Fixpoint]] round: the next reads its
    * m-row weights twice (wi, wj), so uncut lineage would quadruple. */
  def bradleyTerry(wins: DataFrame, iters: Int = 5): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // symmetrize: per unordered pair both directions carry the total
    // comparison count; per item W_i = total wins
    val pairTotals = wins.select(col("winner").as("i"), col("loser").as("j"),
        col("w").cast(LongType).as("wij"))
      .unionByName(wins.select(col("loser").as("i"), col("winner").as("j"),
        lit(0L).as("wij")))
      .groupBy("i", "j").agg(sum("wij").as("wij"))
      // cut BEFORE the symmetrizing self-join: its two branches partition
      // on swapped keys, so exchange reuse never fires and the whole
      // corpus-sized win pipeline ran TWICE to build the m²-bounded pair
      // table (guide §1.2: fix the pass count first)
      .localCheckpoint()
    val nTot = pairTotals.alias("a").join(
        pairTotals.select(col("i").as("j2"), col("j").as("i2"),
          col("wij").as("wji")).alias("b"),
        col("a.i") === col("i2") && col("a.j") === col("j2"))
      .select(col("a.i").as("i"), col("a.j").as("j"), col("wij"),
        (col("wij") + col("wji")).as("n_tot"))
    // both tables are item-vocabulary-sized and re-read every round:
    // cut their (join-bearing) lineage once so each round's plan is
    // two leaf joins, not a re-derivation of the whole win pipeline
    val nTotC = nTot.localCheckpoint()
    val winTotals = nTotC.groupBy("i").agg(sum("wij").as("w_total"))
      .localCheckpoint()
    val m = winTotals.count() // item-vocabulary size: aggregate-level
    require(m > 0, "bradleyTerry: no comparable items in the win table")

    val init = winTotals.select(col("i").as("item"), lit(1.0).as("strength"))
    Fixpoint.iterate("bradley_terry", init, iters) { (weights, _) =>
      val denom = nTotC
        .join(weights.select(col("item").as("i"), col("strength").as("wi")),
          Seq("i"))
        .join(weights.select(col("item").as("j"), col("strength").as("wj")),
          Seq("j"))
        .select(col("i"), col("j"),
          (col("n_tot").cast(DoubleType) / (col("wi") + col("wj"))).as("d"))
        .groupBy("i")
        .agg(aggregate(
          sort_array(collect_list(struct(col("j"), col("d")))),
          lit(0.0), (acc, x) => acc + x.getField("d")).as("denom"))
      val raw = winTotals.join(denom, Seq("i"))
        .select(col("i").as("item"),
          (col("w_total").cast(DoubleType) / col("denom")).as("raw"))
      // rescale to Σ strength = m, with an ordered fold over the m items
      val total = raw
        .agg(aggregate(
          sort_array(collect_list(struct(col("item"), col("raw")))),
          lit(0.0), (acc, x) => acc + x.getField("raw")).as("t"))
      raw.crossJoin(total)
        .select(col("item"),
          (col("raw") * lit(m.toDouble) / col("t")).as("strength"))
    }._1
  }
}
