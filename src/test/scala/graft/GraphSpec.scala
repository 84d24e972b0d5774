package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.engine.Stages
import graft.graph.{PageRank, Sssp}

/** PageRank semantics on small hand-checkable graphs. */
class GraphSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def ranksOf(nodes: Seq[Long], edges: Seq[(Long, Long)],
      iters: Int): Map[Long, Double] = {
    val n = nodes.toDF("node_id")
    val e = edges.toDF("src", "dst")
    PageRank.run(n, e, nodes.size.toLong, iters)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  test("3-cycle is a fixed point: every rank stays 1/N") {
    val r = ranksOf(Seq(0L, 1L, 2L), Seq((0L, 1L), (1L, 2L), (2L, 0L)), 5)
    r.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-12))
  }

  test("star graph: hub accumulates, leaves hold the base term") {
    // 1,2,3 -> 0; 0 has no out-edges (dangling: its mass is dropped)
    val r = ranksOf(Seq(0L, 1L, 2L, 3L),
      Seq((1L, 0L), (2L, 0L), (3L, 0L)), 1)
    val base = 0.15 / 4
    assert(math.abs(r(1L) - base) < 1e-12)
    assert(math.abs(r(2L) - base) < 1e-12)
    assert(math.abs(r(3L) - base) < 1e-12)
    // hub: base + d * 3 * (0.25 / 1)
    assert(math.abs(r(0L) - (base + 0.85 * 3 * 0.25)) < 1e-12)
  }

  test("dangling mass is not redistributed: total rank decays below 1") {
    val r = ranksOf(Seq(0L, 1L), Seq((1L, 0L)), 2)
    val total = r.values.sum
    assert(total < 1.0 - 1e-9, s"total=$total")
    assert(r.values.forall(_ >= 0.15 / 2 - 1e-12))
  }

  test("two runs are bit-identical (ordered-fold determinism)") {
    val nodes = (0L until 30L)
    val edges = nodes.flatMap(i => Seq((i, (i * 7 + 3) % 30), (i, (i * 13 + 5) % 30)))
    val a = ranksOf(nodes, edges, 4)
    val b = ranksOf(nodes, edges, 4)
    nodes.foreach { i =>
      assert(java.lang.Double.doubleToLongBits(a(i)) ==
        java.lang.Double.doubleToLongBits(b(i)))
    }
  }

  private def triCounts(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    graft.graph.Triangles.perNode(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("triangle: K3 gives each corner one triangle") {
    assert(triCounts(Seq((0L, 1L), (1L, 2L), (2L, 0L))) ==
      Map(0L -> 1L, 1L -> 1L, 2L -> 1L))
  }

  test("triangle: K4 gives each corner C(3,2)=3 triangles") {
    val k4 = for (i <- 0L to 3L; j <- 0L to 3L if i < j) yield (i, j)
    assert(triCounts(k4) == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
  }

  test("triangle: path and star graphs have none") {
    assert(triCounts(Seq((0L, 1L), (1L, 2L), (2L, 3L))).isEmpty)
    assert(triCounts(Seq((9L, 1L), (9L, 2L), (9L, 3L), (9L, 4L))).isEmpty)
  }

  test("triangle: duplicate/reverse/self edges do not change counts") {
    val noisy = Seq((0L, 1L), (1L, 0L), (0L, 1L), (1L, 2L), (2L, 0L),
      (1L, 1L), (2L, 2L))
    assert(triCounts(noisy) == Map(0L -> 1L, 1L -> 1L, 2L -> 1L))
  }

  test("triangle: hub sharing two fans counts each closed wedge once") {
    // hub 0 connects to 1..4; extra edges close only (1,2) and (3,4)
    val e = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (1L, 2L), (3L, 4L))
    assert(triCounts(e) ==
      Map(0L -> 2L, 1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  private def bfsHops(edges: Seq[(Long, Long)], sources: Seq[Long],
      maxHops: Int): Map[Long, Long] =
    graft.graph.Bfs.hops(edges.toDF("src", "dst"),
        sources.toDF("node_id"), maxHops)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("bfs: chain distances from a single seed, capped at maxHops") {
    val chain = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    assert(bfsHops(chain, Seq(0L), 3) ==
      Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("bfs: min hop wins when a node is reachable two ways") {
    // 0->1->2->3 and a shortcut 0->3
    val e = Seq((0L, 1L), (1L, 2L), (2L, 3L), (0L, 3L))
    assert(bfsHops(e, Seq(0L), 4) ==
      Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 1L))
  }

  test("bfs: multi-source keeps hop 0 for seeds; edges are directed") {
    val e = Seq((0L, 1L), (1L, 0L), (2L, 1L)) // 2 unreachable from 0/1
    assert(bfsHops(e, Seq(0L, 2L), 4) ==
      Map(0L -> 0L, 1L -> 1L, 2L -> 0L))
  }

  test("bfs: early exit when the frontier drains before the cap") {
    val e = Seq((0L, 1L))
    assert(bfsHops(e, Seq(0L), 100) == Map(0L -> 0L, 1L -> 1L))
  }

  test("trustrank: teleport mass stays on the seed side of a split graph") {
    // two disjoint 2-cycles; seed only node 0 — component {2,3} must
    // decay to exactly zero (no uniform teleport)
    val nodes = Seq(0L, 1L, 2L, 3L).toDF("node_id")
    val edges = Seq((0L, 1L), (1L, 0L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val seeds = Seq(0L).toDF("node_id")
    val r = PageRank.personalizedRun(nodes, edges, seeds, nSeeds = 1, iters = 4)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(2L) == 0.0 && r(3L) == 0.0)
    assert(r(0L) > 0.0 && r(1L) > 0.0)
    // seed keeps the base term every round; non-seed holds only passed mass
    assert(r(0L) > r(1L))
  }

  test("hits: hand-computed one round on a star (hub points at two leaves)") {
    // 0 -> 1, 0 -> 2: a1 = (0,1,1); h1(0) = a1(1)+a1(2) = 2, leaves hub 0
    val nodes = Seq(0L, 1L, 2L).toDF("node_id")
    val edges = Seq((0L, 1L), (0L, 2L)).toDF("src", "dst")
    val r = graft.graph.Hits.run(nodes, edges, iters = 1)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r(0L) == (0L, 2L))
    assert(r(1L) == (1L, 0L))
    assert(r(2L) == (1L, 0L))
  }

  test("hits: path counts after two rounds on a chain are exact") {
    // 0 -> 1 -> 2
    val nodes = Seq(0L, 1L, 2L).toDF("node_id")
    val edges = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    val r = graft.graph.Hits.run(nodes, edges, iters = 2)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    // round1: a=(0,1,1), h=(1,1,0); round2: a(1)=h(0)=1, a(2)=h(1)=1,
    // then h(0)=a(1)=1, h(1)=a(2)=1
    assert(r == Map(0L -> (0L, 1L), 1L -> (1L, 1L), 2L -> (1L, 0L)))
  }

  test("trustrank: hand-computed one iteration on a seed -> leaf edge") {
    // S={0}, 0 -> 1, d=0.85: r1(0) = 0.15, r1(1) = 0.85 * 1.0
    val nodes = Seq(0L, 1L).toDF("node_id")
    val edges = Seq((0L, 1L)).toDF("src", "dst")
    val seeds = Seq(0L).toDF("node_id")
    val r = PageRank.personalizedRun(nodes, edges, seeds, nSeeds = 1, iters = 1)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(math.abs(r(0L) - (1.0 - 0.85)) < 1e-12)
    assert(math.abs(r(1L) - 0.85) < 1e-12)
  }

  test("sssp: relax rounds find the cheap detour over the direct edge") {
    import spark.implicits._
    // 0 -> 1 costs 10 direct, but 0 -> 2 -> 1 costs 1 + 1 = 2
    val edges = Seq((0L, 1L, 10L), (0L, 2L, 1L), (2L, 1L, 1L),
      (1L, 3L, 5L)).toDF("src", "dst", "w")
    val sources = Seq(0L).toDF("node_id")
    val got = Sssp.cheapestPaths(edges, sources, maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 2L, 2L -> 1L, 3L -> 7L))
    // hop cap binds: with 1 hop the detour is unreachable
    val capped = Sssp.cheapestPaths(edges, sources, maxHops = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped(1L) == 10L && !capped.contains(3L))
    // seed cost stays 0 even on a cycle back to it
    val cyc = Seq((0L, 1L, 1L), (1L, 0L, 1L)).toDF("src", "dst", "w")
    val c = Sssp.cheapestPaths(cyc, sources, maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c(0L) == 0L && c(1L) == 1L)
  }

  test("negative sampling: proposals minus edges, no self-loops, both directions") {
    import spark.implicits._
    // n=4, 1 proposal per node: dst = (id*11 + 5) % 4 = (3id+1) % 4
    // -> 0->1, 1->0, 2->3, 3->2
    val nodes = (0L to 3L).toDF("node_id")
    val edges = Seq((1L, 0L), (2L, 3L)).toDF("src", "dst")
    val got = graft.graph.Negatives.sample(nodes, edges, 4L, proposals = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    // 0->1 killed by reverse edge (1,0); 1->0 killed directly;
    // 2->3 killed; 3->2 killed by reverse -> nothing survives
    assert(got == Seq())
    val got2 = graft.graph.Negatives.sample(nodes,
        Seq((1L, 0L)).toDF("src", "dst"), 4L, proposals = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got2 == Seq((2L, 3L), (3L, 2L)))
  }

  test("k-core peel: clique survives, pendant chain peels round by round") {
    import spark.implicits._
    // 4-clique {0,1,2,3} plus chain 3-4-5: k=2 peels 5 (deg 1), then 4
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L),
      (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val got = graft.graph.Cores.peel(edges, k = 2, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    // one round only: 5 peels but 4 (deg 2 before the peel) still shows
    // until the NEXT round sees its post-peel degree 1
    val one = graft.graph.Cores.peel(edges, k = 2, rounds = 1)
      .collect().map(_.getLong(0)).toSet
    assert(one == Set(0L, 1L, 2L, 3L)) // 4's surviving degree is 1 -> cut
  }

  test("k-core peel: enough rounds reach the classic k-core fixpoint") {
    import spark.implicits._
    // three deterministic pseudo-random graphs; reference = iterate a
    // scala fixpoint peel until stable
    for (seed <- Seq(7L, 13L, 29L)) {
      val n = 24L
      val raw = (0L until n).flatMap { i =>
        Seq((i, (i * seed + 1) % n), (i, (i * 3 + seed) % n))
      }.filter { case (a, b) => a != b }
      def canon(e: Seq[(Long, Long)]) =
        e.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      var ref = canon(raw)
      var stable = false
      while (!stable) {
        val deg = ref.flatMap { case (a, b) => Seq(a, b) }
          .groupBy(identity).map { case (v, xs) => v -> xs.size }
        val keep = deg.filter(_._2 >= 3).keySet
        val next = ref.filter { case (a, b) => keep(a) && keep(b) }
        stable = next == ref
        ref = next
      }
      val want = ref.flatMap { case (a, b) => Seq(a, b) }
        .groupBy(identity).map { case (v, xs) => v -> xs.size.toLong }
        .filter(_._2 >= 3)
      val got = graft.graph.Cores.peel(raw.toDF("src", "dst"), k = 3,
          rounds = 24) // rounds >= |V| always reaches the fixpoint
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"seed $seed")
    }
  }

  test("labelProp: two cliques joined by one bridge resolve to two communities") {
    // cliques {0,1,2} and {10,11,12}, bridge 2-10; after 2 rounds each
    // clique converges to its minimum label (ties -> smallest label)
    val nodes = Seq(0L, 1L, 2L, 10L, 11L, 12L).toDF("id")
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L),
      (10L, 11L), (10L, 12L), (11L, 12L), (2L, 10L)).toDF("src", "dst")
    val got = graft.graph.LabelProp.run(nodes, edges, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // hand-simulated synchronous rounds (every tie -> smallest label):
    // r1: 0->1 1->0 2->0 10->2 11->10 12->10
    // r2: 0->0 1->0 2->0 10->10 11->2 12->2
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      10L -> 10L, 11L -> 2L, 12L -> 2L))
    // isolated node keeps its own id
    val iso = graft.graph.LabelProp.run(
      (nodes.union(Seq(99L).toDF("id"))), edges, iters = 2)
      .filter(col("id") === 99L).collect()
    assert(iso.head.getLong(1) == 99L)
  }

  test("labelProp: zero iters is the identity labeling") {
    val nodes = Seq(5L, 6L).toDF("id")
    val edges = Seq((5L, 6L)).toDF("src", "dst")
    val got = graft.graph.LabelProp.run(nodes, edges, iters = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((5L, 5L), (6L, 6L)))
  }

  test("clusteringCoefficient: clique scores 1, pendant scores 0") {
    import spark.implicits._
    // triangle {0,1,2} plus pendant 3 hanging off 0
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (0L, 3L))
      .toDF("src", "dst")
    val got = graft.graph.Triangles.clusteringCoefficient(edges)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // node 0: deg 3, 1 triangle of 3 possible neighbor pairs -> 1/3
    assert(got(0L) == ((3L, 1L, 1.0 / 3.0)))
    assert(got(1L) == ((2L, 1L, 1.0)))
    assert(got(2L) == ((2L, 1L, 1.0)))
    assert(got(3L) == ((1L, 0L, 0.0))) // deg 1: no pairs, defined as 0
  }

  /** An early-exit operator on a graph that converges in `r` rounds: cap
    * r - 1 still differs, caps r and r + 10 give the same rows, and the
    * cap-(r + 10) run labels at most r + 1 rounds (the last one unchanged). */
  private def exitsEarly(name: String, r: Int)(run: Int => DataFrame): Unit = {
    def rows(cap: Int) = run(cap).collect().map(_.toSeq).toSet
    val (long, rec) = Stages.record(spark)(rows(r + 10))
    assert(rows(r) == long)
    assert(rows(r - 1) != long)
    val rounds = rec.jobs.flatMap(_.description)
      .filter(_.startsWith(s"$name round ")).distinct
    assert(rounds.nonEmpty && rounds.size <= r + 1, rounds)
  }

  test("bfs: a drained frontier ends the loop; cap r and r + 10 agree") {
    val chain = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    exitsEarly("sssp", 3)(graft.graph.Bfs.hops(chain, Seq(0L).toDF("node_id"), _))
  }

  test("sssp: a round with no cheaper cost ends the loop and frees earlier rounds") {
    // costs settle after round 3: 1 via the detour (2), then 3 via 1 (7)
    val edges = Seq((0L, 1L, 10L), (0L, 2L, 1L), (2L, 1L, 1L),
      (1L, 3L, 5L)).toDF("src", "dst", "w")
    val sources = Seq(0L).toDF("node_id")
    exitsEarly("sssp", 3)(Sssp.cheapestPaths(edges, sources, _))
    // only the last round's checkpoint stays persisted
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    Sssp.cheapestPaths(edges, sources, 13).collect()
    assert((sc.getPersistentRDDs.keySet -- before).size == 1)
  }

  test("k-core peel: the loop ends once no node is below k") {
    // 4-clique plus chain 3-4-5 at k = 2: peels 5, then 4, then stops
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L),
      (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    exitsEarly("kcore", 2)(graft.graph.Cores.peel(edges, k = 2, _))
  }
}
