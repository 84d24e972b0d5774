package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.engine.Fixpoint

/** Bounded-hop single/multi-source cheapest paths (Bellman-Ford rounds)
  * over a weighted directed graph — the weighted completion of [[Bfs]]:
  * hop distance answers "how far", this answers "how cheap". Crawl-
  * pipeline use: link-cost-weighted seed distance (e.g. penalize
  * cross-host hops) for trust/priority priors.
  *
  * Algorithm: `maxHops` level-synchronous relax rounds. Round i joins the
  * nodes whose cost dropped in round i−1 (the seeds in round 1) to the
  * edge list (equi-join on the node id — hash-partitioned, never
  * cartesian) and keeps the per-node min of the old and relaxed costs. A
  * node whose cost did not drop was already relaxed at that cost, so
  * after k rounds the table holds EXACTLY min-cost-over-paths-with-≤k-hops
  * per reached node, which is what the recursive-CTE oracle computes.
  * With non-negative weights and maxHops ≥ |V|−1 this is full SSSP; the
  * cap bounds work and state.
  *
  * Scale shape: per round one shuffle of (dropped nodes × out-edges) and
  * one min-aggregate over the reached nodes. Rounds run through
  * [[graft.engine.Fixpoint]]: each is one action, and the loop stops
  * after a round in which no cost dropped — the table is then the full
  * fixpoint, so later rounds (and the oracle's remaining hops) could not
  * change it. */
object Sssp {

  /** Cheapest ≤`maxHops`-hop cost from `sources` (node_id rows, cost 0)
    * along weighted edges (src, dst, w). Returns (node_id, cost) for
    * every reached node. Deterministic for any weights; exact for
    * integer weights. */
  def cheapestPaths(edges: DataFrame, sources: DataFrame,
      maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val e = edges.select(col("src"), col("dst"), col("w").cast(LongType))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seeds = sources.select(col("node_id")).distinct()
      .select(col("node_id"), lit(0L).as("cost"), lit(true).as("dropped"))
    val (cheapest, _) = Fixpoint.iterate("sssp", seeds, maxHops,
        changed = col("dropped")) { (best, _) =>
      val relaxed = best.filter(col("dropped"))
        .join(e, col("node_id") === e("src"))
        .select(col("dst").as("node_id"), (col("cost") + col("w")).as("cost"),
          lit(null).cast(LongType).as("old"))
      // `old` carries the round-start cost, so the min-aggregate also
      // tells which nodes are new or got cheaper
      best.select(col("node_id"), col("cost"), col("cost").as("old"))
        .unionByName(relaxed)
        .groupBy("node_id")
        .agg(min(col("cost")).as("cost"), min(col("old")).as("old"))
        .select(col("node_id"), col("cost"),
          (col("old").isNull || col("cost") < col("old")).as("dropped"))
    }
    e.unpersist(blocking = false)
    cheapest.select(col("node_id"), col("cost"))
  }
}
