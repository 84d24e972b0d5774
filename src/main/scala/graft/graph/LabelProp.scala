package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.Fixpoint

/** Synchronous label propagation for community detection (Raghavan,
  * Albert & Kumara 2007): every node starts labeled with its own id;
  * each round it adopts the most frequent label among its (undirected)
  * neighbors, ties to the SMALLEST label — the deterministic variant, so
  * runs, partitionings, and engines agree bit-for-bit. The pipeline use
  * is coarse corpus clustering over a link/similarity graph (next to
  * [[graft.dedup.Dedup.connectedComponents]], which finds *connected*
  * groups; label prop splits a connected blob into communities).
  *
  * Scale shape: a round is one equi-join (labels × symmetrized edges on
  * the src id) + two hash aggregates — the per-(node,label) count, then
  * the per-node argmax as `max(struct(count, -label))` (no window, no
  * sort; partial/final aggregation applies). Rounds are fixed and small
  * (label prop converges in a handful of sweeps); each is one
  * [[graft.engine.Fixpoint]] round, like [[Bfs.hops]]'s.
  * The reference engine has no graph surface — pure extension. */
object LabelProp {

  /** `nodes(id)`, directed `edges(src, dst)` symmetrized internally.
    * Returns (id, label) after `iters` synchronous rounds; isolated
    * nodes keep their own id. */
  def run(nodes: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .persist(level)
    val init = nodes.select(col("id"), col("id").as("lab"))
    val labeled = Fixpoint.iterate("label_prop", init, iters) { (labels, _) =>
      val cnt = sym.join(labels, sym("src") === labels("id"))
        .groupBy(col("dst"), col("lab")).agg(count(lit(1)).as("c"))
      // argmax with smallest-label tie: max of (count, -label) lexicographic
      val pick = cnt.groupBy(col("dst"))
        .agg(max(struct(col("c"), (-col("lab")).as("nl"))).as("m"))
        .select(col("dst").as("pid"), (-col("m.nl")).as("plab"))
      labels.join(pick, labels("id") === pick("pid"), "left")
        .select(col("id"), coalesce(col("plab"), col("lab")).as("lab"))
    }._1
    sym.unpersist(blocking = false)
    labeled.select(col("id"), col("lab").as("label"))
  }
}
