package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** PageRank (Page et al. 1999) — the crawl-graph authority signal a web
  * training corpus uses to weight domains (the CommonCrawl-style ranking
  * that decides which of 100 TB of pages deserve more epochs). Power
  * iteration over an edge list, expressed as DataFrame joins so Catalyst
  * plans the shuffles.
  *
  * Determinism contract (what lets a DuckDB oracle twin the whole run):
  * per-destination contributions are summed by an ORDERED left-to-right
  * fold (sort by source id, then `aggregate` from 0.0) instead of a
  * float `sum()` whose partial-aggregation order is nondeterministic.
  * The collected per-node list is bounded by in-degree; for graphs with
  * mega-hub nodes swap the fold for plain `sum` and accept last-ulp
  * wobble, or pre-combine in fixed-size buckets.
  *
  * Scale shape: each iteration is one co-keyed join (edges x ranks on
  * src — AQE picks SMJ/broadcast by size), one shuffle to group by dst,
  * and one left join back to the node list. Nothing is materialized
  * between rounds: callers run few (the contract queries run 3), so the
  * whole power iteration stays one lazy plan (ref has no graph ops at all —
  * src/io/reader/listing/table.rs is its whole storage story). */
object PageRank {

  /** `iters` rounds of rank(v) = (1-d)/N + d * Σ_{u→v} rank(u)/outdeg(u)
    * over `edges` (src, dst); nodes with no out-edges contribute nothing
    * (their mass is NOT redistributed — matches the oracle twin), nodes
    * with no in-edges keep the base term. Returns (node_id, rank). */
  def run(nodes: DataFrame, edges: DataFrame, nNodes: Long, iters: Int,
      d: Double = 0.85): DataFrame = {
    val base = lit((1.0 - d) / nNodes)
    val init = lit(1.0 / nNodes)
    iterate(nodes.select(col("node_id"), base.as("base"), init.as("init")),
      edges, iters, d)
  }

  /** Personalized PageRank / TrustRank (Gyöngyi et al. 2004): the teleport
    * mass lands ONLY on the trusted seed set instead of uniformly, so rank
    * decays with link distance from the seeds — the trust prior a crawl
    * pipeline combines with raw PageRank to demote link-farmed authority.
    * rank(v) = (1-d)·s(v) + d·Σ contributions, with s(v) = 1/|S| on seeds
    * and 0 elsewhere; the initial distribution is s itself. Identical
    * iteration/scale shape to [[run]] — the seed membership rides the node
    * list as a precomputed base column, so the loop stays two equi-join
    * shuffles per round. */
  def personalizedRun(nodes: DataFrame, edges: DataFrame, seeds: DataFrame,
      nSeeds: Long, iters: Int, d: Double = 0.85): DataFrame = {
    val withSeed = nodes.join(
      seeds.select(col("node_id"), lit(true).as("is_seed")),
      Seq("node_id"), "left")
    val nb = withSeed.select(col("node_id"),
      when(col("is_seed"), lit((1.0 - d) / nSeeds))
        .otherwise(lit(0.0)).as("base"),
      when(col("is_seed"), lit(1.0 / nSeeds))
        .otherwise(lit(0.0)).as("init"))
    iterate(nb, edges, iters, d)
  }

  /** Shared power-iteration loop over (node_id, base, init): one co-keyed
    * join edges×ranks on src, one ordered-fold sum grouped by dst, one
    * left join back to the node list per round. */
  private def iterate(nodesWithBase: DataFrame, edges: DataFrame,
      iters: Int, d: Double): DataFrame = {
    val outdeg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val withDeg = edges.join(outdeg, "src")
    val init = nodesWithBase.select(col("node_id"), col("init").as("rank"))
    (1 to iters).foldLeft(init) { (ranks, _) =>
      val contribs = withDeg
        .join(ranks, withDeg("src") === ranks("node_id"))
        .select(col("dst"), col("src"),
          (col("rank") / col("outdeg").cast(DoubleType)).as("c"))
      val summed = contribs.groupBy("dst")
        .agg(aggregate(
          sort_array(collect_list(struct(col("src"), col("c")))),
          lit(0.0), (acc, x) => acc + x.getField("c")).as("s"))
      nodesWithBase
        .join(summed, nodesWithBase("node_id") === summed("dst"), "left")
        .select(nodesWithBase("node_id"),
          (col("base") + lit(d) * coalesce(col("s"), lit(0.0))).as("rank"))
    }
  }
}
