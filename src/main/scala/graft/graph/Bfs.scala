package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source breadth-first search over a directed link graph — hop
  * distance from a seed set. The crawl-pipeline use is seed-distance
  * scoring: pages within k hops of a trusted seed list get a trust prior
  * (TrustRank-style), and the same frontier expansion is how focused
  * crawls budget their depth. The reference engine has no graph operators
  * (its relational surface ends at joins — src/plan/logical/join.rs), so
  * this is a pure extension.
  *
  * Algorithm: level-synchronous BFS is [[Sssp]] with unit weights: the
  * nodes whose cost dropped in a round are exactly those first reached in
  * it (the frontier), so round i joins the frontier to the edge list and
  * keeps the FIRST (= minimum) hop per node; the loop (jobs labelled
  * `sssp round <i>`) stops after a round that reached no new node. At
  * web scale the frontier saturates within ~6 rounds on an expander-ish
  * link graph, so `maxHops` bounds both work and state. */
object Bfs {

  /** Hop distance from `sources` (a (node_id) frame, hop 0) along
    * directed edges (src, dst), capped at `maxHops`. Returns
    * (node_id, hop) for every reached node; unreached nodes are absent.
    * Seeds reachable from other seeds keep hop 0 — min semantics. */
  def hops(edges: DataFrame, sources: DataFrame, maxHops: Int): DataFrame =
    Sssp.cheapestPaths(edges.withColumn("w", lit(1L)), sources, maxHops)
      .select(col("node_id"), col("cost").as("hop"))
}
