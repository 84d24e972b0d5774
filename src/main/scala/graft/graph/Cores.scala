package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.Fixpoint

/** Bounded-round k-core peeling: repeatedly remove nodes whose degree in
  * the SURVIVING subgraph is below k. The fixpoint of this process is the
  * classic k-core (the maximal subgraph of minimum degree k — link-farm
  * cores and dense community hubs survive, pendant trees and chains peel
  * away); running a FIXED number of rounds peels all low-degree
  * structure within `rounds` hops of the periphery and is exactly
  * reproducible by an unrolled oracle (no data-dependent recursion), so
  * the contract query stays hash-checkable.
  *
  * The loop body is DataFrame, one [[graft.engine.Fixpoint]] round per
  * peel, and the round's `localCheckpoint` cut is what makes a DF loop
  * viable — without it the unrolled logical tree replicates the upstream
  * edge build ~4^rounds times and analysis/codegen dominates (the
  * r4-era measurement that originally forced this loop onto RDDs). The
  * optimization round re-measured the RDD escape hatch itself: its
  * per-round reduceByKey + two re-key joins moved ~4.8M boxed tuples
  * through three shuffles per round (3.2 s of the query), where the
  * checkpointed DF round is one map-side-combined degree aggregate plus
  * two semi-joins whose keep side AQE broadcasts (zero edge shuffles on
  * the surviving-set side, Tungsten rows instead of boxed pairs) — and
  * at cluster scale a too-big keep set degrades gracefully to a shuffle
  * join instead of OOMing a broadcast. A round's state is the degree
  * table of the surviving subgraph (a peeled node never returns, so each
  * round peels the canonical edges by the last table); once no node in
  * it is below k it is the k-core, and the loop stops.
  *
  * Returns (node_id, deg) for nodes surviving `rounds` peels, with their
  * degree in the final surviving subgraph. */
object Cores {

  def peel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1)
    // canonical undirected edges, materialized ONCE (eager checkpoint):
    // every round's semi-joins read the cached blocks, never the upstream
    // edge build
    // long casts match the former RDD loop's as[(Long, Long)] encoder, so
    // the output schema is identical for any integral edge column type
    val canon = edges
      .select(least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(true)
    def degrees(df: DataFrame): DataFrame =
      df.select(explode(array(col("a"), col("b"))).as("node_id"))
        .groupBy("node_id").agg(count(lit(1)).as("deg"))
    Fixpoint.iterate("kcore", degrees(canon), rounds,
        changed = col("deg") < k) { (deg, _) =>
      val keep = deg.filter(col("deg") >= k).select("node_id")
      degrees(canon
        .join(keep.select(col("node_id").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("node_id").as("b")), Seq("b"), "left_semi"))
    }._1.filter(col("deg") >= k)
  }
}
