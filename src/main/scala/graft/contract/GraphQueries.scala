package graft
package contract

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Shared._

/** Graph analytics over the synthetic link graph and the co-purchase graph. */
object GraphQueries {

  /** The shared synthetic link graph (ring + skip + affine: id→id+1,
    * id→id+2, id→7·id+3, all mod n) every graph-family query builds on —
    * ONE definition so the constants can never desynchronize across the
    * seven consumers whose twins replay the same three terms in SQL. */
  private def ringSkipAffineEdges(docs: org.apache.spark.sql.DataFrame,
      n: Long, id: Column): org.apache.spark.sql.DataFrame =
    docs.select(id.as("src"), ((id + 1) % n).as("dst"))
      .union(docs.select(id.as("src"), ((id + 2) % n).as("dst")))
      .union(docs.select(id.as("src"), ((id * 7 + 3) % n).as("dst")))

  /** Label-prop replay: k unrolled synchronous rounds on the symmetrized
    * ring+skip+affine graph — per round a per-(node,label) count and a
    * row_number argmax (count DESC, label ASC = the smallest-label tie),
    * isolated/no-pick nodes keeping their previous label. */
  private def labelPropTwin(k: Int): String = {
    val head =
      """WITH nn AS (SELECT count(*) AS n FROM documents),
         ed AS (
           SELECT doc_id AS src, (doc_id + 1) % nn.n AS dst
           FROM documents CROSS JOIN nn
           UNION ALL
           SELECT doc_id, (doc_id + 2) % nn.n
           FROM documents CROSS JOIN nn
           UNION ALL
           SELECT doc_id, (doc_id * 7 + 3) % nn.n
           FROM documents CROSS JOIN nn),
         sym AS MATERIALIZED (SELECT src, dst FROM ed
           UNION ALL SELECT dst, src FROM ed),
         l0 AS (SELECT doc_id AS id, doc_id AS lab FROM documents)"""
    val rounds = (1 to k).map { r =>
      s""",
         c$r AS (SELECT s.dst AS id, l.lab, count(*) AS c
           FROM sym s JOIN l${r - 1} l ON l.id = s.src GROUP BY 1, 2),
         p$r AS (SELECT id, lab FROM (
             SELECT id, lab, row_number() OVER (PARTITION BY id
               ORDER BY c DESC, lab ASC) AS rn FROM c$r) WHERE rn = 1),
         l$r AS MATERIALIZED (SELECT l.id, COALESCE(p.lab, l.lab) AS lab
           FROM l${r - 1} l LEFT JOIN p$r p ON l.id = p.id)"""
    }.mkString
    head + rounds +
      s"""
         SELECT lab AS label, count(*) AS n_members
         FROM l$k GROUP BY lab ORDER BY label"""
  }

  /** Power-iteration replay shared by the uniform (q_pagerank) and
    * seed-personalized (q_trustrank) twins: `baseSql`/`initSql` are the
    * per-node teleport base and initial-rank expressions (they may
    * reference `nodes.node_id` and the 1-row `nn`), `outCol` names the
    * rounded output column. The double expression tree of every stage
    * matches PageRank.iterate exactly. */
  private def prTwin(iters: Int, baseSql: String, initSql: String,
      outCol: String): String = {
    val stages = (1 to iters).map { i =>
      val prev = s"r${i - 1}"
      s"""c$i AS (
           SELECT e.dst, e.src, $prev.rank / CAST(o.outdeg AS DOUBLE) AS c
           FROM edges e JOIN $prev ON e.src = $prev.node_id
             JOIN outdeg o ON o.src = e.src),
         s$i AS (
           SELECT dst,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(c ORDER BY src, c)), (a, b) -> a + b) AS s
           FROM c$i GROUP BY dst),
         r$i AS (
           SELECT nodes.node_id,
             ($baseSql)
               + CAST(0.85 AS DOUBLE)
                 * coalesce(s$i.s, CAST(0.0 AS DOUBLE)) AS rank
           FROM nodes CROSS JOIN nn
             LEFT JOIN s$i ON s$i.dst = nodes.node_id)"""
    }.mkString(",\n         ")
    s"""WITH nn AS (SELECT count(*) AS n FROM documents),
         nodes AS (SELECT doc_id AS node_id FROM documents),
         edges AS (
           SELECT doc_id AS src, (doc_id * 7 + 3) % nn.n AS dst
           FROM documents CROSS JOIN nn
           UNION ALL
           SELECT doc_id, (doc_id * 13 + 5) % nn.n
           FROM documents CROSS JOIN nn),
         outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
         r0 AS (SELECT node_id, $initSql AS rank
           FROM nodes CROSS JOIN nn),
         $stages
         SELECT node_id, round(rank, 6) AS $outCol FROM r$iters
         ORDER BY node_id"""
  }

  /** Full twin of q_pagerank: the same synthetic 2-out-edge graph, then
    * `iters` power-iteration stages generated as sequential CTEs. Every
    * double expression is cast-shaped to match the engine exactly —
    * DuckDB's bare `1.0 - 0.85` is DECIMAL arithmetic (exact 0.15), the
    * engine's is IEEE (0.15000000000000002), so literals are CAST to
    * DOUBLE before any op; per-dst sums replay the engine's ordered fold
    * via list_reduce over list(c ORDER BY src, c) prepended with 0.0. */
  private def pageRankTwin(iters: Int): String = prTwin(iters,
    baseSql = """((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                / CAST(nn.n AS DOUBLE))""",
    initSql = "CAST(1.0 AS DOUBLE) / CAST(nn.n AS DOUBLE)",
    outCol = "pr")

  /** Seed-personalized variant: teleport/init mass only on doc_id < 2
    * (|S| = 2), matching PageRank.personalizedRun's base/init columns. */
  private def trustRankTwin(iters: Int): String = prTwin(iters,
    baseSql = """(CASE WHEN nodes.node_id < 2
               THEN (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                    / CAST(2 AS DOUBLE)
               ELSE CAST(0.0 AS DOUBLE) END)""",
    initSql = """CASE WHEN node_id < 2
               THEN CAST(1.0 AS DOUBLE) / CAST(2 AS DOUBLE)
               ELSE CAST(0.0 AS DOUBLE) END""",
    outCol = "tr")

  val queries: Seq[ContractQuery] = Seq(
    // PageRank over a deterministic synthetic link graph (2 out-edges per
    // doc via affine maps mod N): 3 power iterations with ordered-fold
    // contribution sums — the crawl-authority weighting signal; the twin
    // replays every iteration with the identical double expression tree
    ContractQuery("q_pagerank", (s, dir) => {
      val docs = t(s, dir, "documents")
      val n = docs.count() // single bounded scalar, never data-sized
      val nodes = docs.select(col("doc_id").as("node_id"))
      val edges = docs.select(col("doc_id").as("src"),
          ((col("doc_id") * 7 + 3) % n).as("dst"))
        .union(docs.select(col("doc_id").as("src"),
          ((col("doc_id") * 13 + 5) % n).as("dst")))
      graft.graph.PageRank.run(nodes, edges, n, iters = 3)
        .select(col("node_id"), round(col("rank"), 6).as("pr"))
        .orderBy("node_id")
    },
      // full power-iteration replay with engine-shaped double arithmetic
      pageRankTwin(iters = 3)),

    // per-node triangle counts on a deterministic synthetic link graph
    // (ring + skip + affine edges — the ring/skip pairs guarantee a
    // triangle per consecutive node triple, the affine edges add
    // irregular extras) — degree-ordered node-iterator (oriented wedge
    // join, no cartesian, per-key fan-out bounded by O(sqrt(m)) even on
    // hub nodes)
    ContractQuery("q_triangles", (s, dir) => {
      val docs = t(s, dir, "documents")
      val n = docs.count()
      val id = col("doc_id")
      val edges = ringSkipAffineEdges(docs, n, id)
      graft.graph.Triangles.perNode(edges).orderBy("node_id")
    },
      // same ring+skip+affine synthetic graph as the engine query; the
      // oriented wedge join replayed relationally (orientation = (deg, id)
      // lexicographic order)
      """WITH nn AS (SELECT count(*) AS n FROM documents),
         edges0 AS (
           SELECT doc_id AS src, (doc_id + 1) % nn.n AS dst
           FROM documents CROSS JOIN nn
           UNION ALL
           SELECT doc_id, (doc_id + 2) % nn.n
           FROM documents CROSS JOIN nn
           UNION ALL
           SELECT doc_id, (doc_id * 7 + 3) % nn.n
           FROM documents CROSS JOIN nn),
         und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           FROM edges0 WHERE src <> dst),
         deg AS (SELECT v, count(*) AS deg FROM (
             SELECT a AS v FROM und UNION ALL SELECT b FROM und)
           GROUP BY v),
         ori AS (SELECT
             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
               THEN u.a ELSE u.b END AS u,
             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
               THEN u.b ELSE u.a END AS w
           FROM und u JOIN deg da ON da.v = u.a JOIN deg db ON db.v = u.b),
         wedges AS (SELECT e1.u, e1.w AS v1, e2.w AS v2
           FROM ori e1 JOIN ori e2 USING (u) WHERE e1.w <> e2.w),
         tris AS (SELECT wg.u, wg.v1, wg.v2
           FROM wedges wg JOIN ori c ON c.u = wg.v1 AND c.w = wg.v2),
         corners AS (SELECT unnest([u, v1, v2]) AS node_id FROM tris)
         SELECT node_id, count(*) AS n_tri FROM corners
         GROUP BY node_id ORDER BY node_id"""),

    // local clustering coefficient on the q_triangles graph: triangle
    // counts normalized per node, 2·tri/(deg·(deg−1)) — exact longs, one
    // quotient; flags clique-like link farms vs hub-and-spoke pages
    ContractQuery("q_clustering_coef", (s, dir) => {
      val docs = t(s, dir, "documents")
      val n = docs.count()
      val id = col("doc_id")
      val edges = ringSkipAffineEdges(docs, n, id)
      graft.graph.Triangles.clusteringCoefficient(edges).orderBy("node_id")
    },
      // q_triangles' count CTEs + degree normalization
      """WITH nn AS (SELECT count(*) AS n FROM documents),
         edges0 AS (
           SELECT doc_id AS src, (doc_id + 1) % nn.n AS dst
           FROM documents CROSS JOIN nn
           UNION ALL
           SELECT doc_id, (doc_id + 2) % nn.n
           FROM documents CROSS JOIN nn
           UNION ALL
           SELECT doc_id, (doc_id * 7 + 3) % nn.n
           FROM documents CROSS JOIN nn),
         und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           FROM edges0 WHERE src <> dst),
         deg AS (SELECT v, count(*) AS deg FROM (
             SELECT a AS v FROM und UNION ALL SELECT b FROM und)
           GROUP BY v),
         ori AS (SELECT
             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
               THEN u.a ELSE u.b END AS u,
             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
               THEN u.b ELSE u.a END AS w
           FROM und u JOIN deg da ON da.v = u.a JOIN deg db ON db.v = u.b),
         wedges AS (SELECT e1.u, e1.w AS v1, e2.w AS v2
           FROM ori e1 JOIN ori e2 USING (u) WHERE e1.w <> e2.w),
         tris AS (SELECT wg.u, wg.v1, wg.v2
           FROM wedges wg JOIN ori c ON c.u = wg.v1 AND c.w = wg.v2),
         corners AS (SELECT unnest([u, v1, v2]) AS node_id FROM tris),
         tc AS (SELECT node_id, count(*) AS n_tri FROM corners
           GROUP BY node_id)
         SELECT deg.v AS node_id, CAST(deg.deg AS BIGINT) AS deg,
           CAST(coalesce(tc.n_tri, 0) AS BIGINT) AS n_tri,
           CASE WHEN deg.deg >= 2
                THEN (CAST(2.0 AS DOUBLE)
                      * CAST(coalesce(tc.n_tri, 0) AS DOUBLE))
                     / CAST(deg.deg * (deg.deg - 1) AS DOUBLE)
                ELSE 0.0 END AS coef
         FROM deg LEFT JOIN tc ON tc.node_id = deg.v
         ORDER BY node_id"""),

    // link reciprocity: share of directed edges whose reverse edge also
    // exists (mutual-link density — the link-farm smell test); one
    // self-semi-join on the swapped pair, exact counts
    ContractQuery("q_reciprocity", (s, dir) => {
      val docs = t(s, dir, "documents")
      val n = docs.count()
      val id = col("doc_id")
      val edges = docs.select(id.as("src"), ((id * 7 + 3) % n).as("dst"))
        .union(docs.select(id.as("src"), ((id * 13 + 5) % n).as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct()
      val mutual = edges.join(
        edges.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"), "left_semi")
      edges.agg(count(lit(1)).as("n_edges")).crossJoin(
          mutual.agg(count(lit(1)).as("n_mutual")))
        .withColumn("reciprocity",
          col("n_mutual").cast(DoubleType) / col("n_edges").cast(DoubleType))
    },
      """WITH nn AS (SELECT count(*) AS n FROM documents),
         e AS (SELECT DISTINCT src, dst FROM (
           SELECT doc_id AS src, (doc_id * 7 + 3) % nn.n AS dst
           FROM documents CROSS JOIN nn
           UNION ALL
           SELECT doc_id, (doc_id * 13 + 5) % nn.n
           FROM documents CROSS JOIN nn) WHERE src <> dst),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n_mutual FROM e
           WHERE EXISTS (SELECT 1 FROM e r
             WHERE r.src = e.dst AND r.dst = e.src)),
         t AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
         SELECT t.n_edges, m.n_mutual,
           CAST(m.n_mutual AS DOUBLE) / CAST(t.n_edges AS DOUBLE)
             AS reciprocity
         FROM t, m"""),

    // unified per-node graph feature table (the crawl-curation feature
    // frame a downstream classifier consumes): directed in/out degree,
    // undirected degree, triangle count, clustering coefficient — one
    // row per document node, absent signals filled with exact zeros
    ContractQuery("q_node_features", (s, dir) => {
      val docs = t(s, dir, "documents")
      val n = docs.count()
      val id = col("doc_id")
      val edges = ringSkipAffineEdges(docs, n, id)
        .filter(col("src") =!= col("dst"))
        .distinct()
      // deliberately NOT persisted although two branches (the unified
      // degree aggregate, the cc wedge pipeline) traverse it: measured
      // at sf0.1, caching the distinct is 2.5x SLOWER (5.1 s vs 1.9 s
      // steady) — the lineage is one pruned bigint scan plus narrow
      // hash ops, so recompute beats the cache's build +
      // InMemoryTableScan cost and the codegen fusion it breaks.
      // Revisit only if the edge builder ever becomes wider than a
      // single-column scan.
      //
      // Directed in/out degree comes from ONE aggregate over the
      // direction-tagged exploded endpoints (out = sum of src-side
      // tags, in = sum of dst-side tags; explode, not union — a union
      // would re-expand the unpersisted edge lineage twice). One
      // shuffle on node_id replaces the former two groupBys + two left
      // joins; the undirected degree rides along free on cc's output
      // (its triangle orientation needs it anyway).
      val sym = edges
        .select(explode(array(
          struct(col("src").as("node_id"), lit(1L).as("o"), lit(0L).as("i")),
          struct(col("dst").as("node_id"), lit(0L).as("o"), lit(1L).as("i"))))
          .as("t"))
        .select(col("t.node_id").as("node_id"), col("t.o").as("o"),
          col("t.i").as("i"))
      val degs = sym.groupBy("node_id").agg(
        sum("o").as("out_deg"), sum("i").as("in_deg"))
      val cc = graft.graph.Triangles.clusteringCoefficient(edges)
      docs.select(id.as("node_id"))
        .join(degs, Seq("node_id"), "left")
        .join(cc, Seq("node_id"), "left")
        .select(col("node_id"),
          coalesce(col("out_deg"), lit(0L)).as("out_deg"),
          coalesce(col("in_deg"), lit(0L)).as("in_deg"),
          coalesce(col("deg"), lit(0L)).as("und_deg"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"),
          coalesce(col("coef"), lit(0.0)).as("coef"))
        .orderBy("node_id")
    },
      // the clustering-coef twin's CTEs + directed in/out counts, zeros
      // for absent signals
      """WITH nn AS (SELECT count(*) AS n FROM documents),
         edges0 AS (
           SELECT DISTINCT src, dst FROM (
             SELECT doc_id AS src, (doc_id + 1) % nn.n AS dst
             FROM documents CROSS JOIN nn
             UNION ALL
             SELECT doc_id, (doc_id + 2) % nn.n
             FROM documents CROSS JOIN nn
             UNION ALL
             SELECT doc_id, (doc_id * 7 + 3) % nn.n
             FROM documents CROSS JOIN nn)
           WHERE src <> dst),
         od AS (SELECT src AS v, count(*) AS out_deg FROM edges0
           GROUP BY 1),
         idg AS (SELECT dst AS v, count(*) AS in_deg FROM edges0
           GROUP BY 1),
         und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           FROM edges0),
         deg AS (SELECT v, count(*) AS deg FROM (
             SELECT a AS v FROM und UNION ALL SELECT b FROM und)
           GROUP BY v),
         ori AS (SELECT
             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
               THEN u.a ELSE u.b END AS u,
             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
               THEN u.b ELSE u.a END AS w
           FROM und u JOIN deg da ON da.v = u.a JOIN deg db ON db.v = u.b),
         wedges AS (SELECT e1.u, e1.w AS v1, e2.w AS v2
           FROM ori e1 JOIN ori e2 USING (u) WHERE e1.w <> e2.w),
         tris AS (SELECT wg.u, wg.v1, wg.v2
           FROM wedges wg JOIN ori c ON c.u = wg.v1 AND c.w = wg.v2),
         corners AS (SELECT unnest([u, v1, v2]) AS node_id FROM tris),
         tc AS (SELECT node_id, count(*) AS n_tri FROM corners
           GROUP BY node_id)
         SELECT d.doc_id AS node_id,
           CAST(coalesce(od.out_deg, 0) AS BIGINT) AS out_deg,
           CAST(coalesce(idg.in_deg, 0) AS BIGINT) AS in_deg,
           CAST(coalesce(deg.deg, 0) AS BIGINT) AS und_deg,
           CAST(coalesce(tc.n_tri, 0) AS BIGINT) AS n_tri,
           CASE WHEN coalesce(deg.deg, 0) >= 2
                THEN (CAST(2.0 AS DOUBLE)
                      * CAST(coalesce(tc.n_tri, 0) AS DOUBLE))
                     / CAST(deg.deg * (deg.deg - 1) AS DOUBLE)
                ELSE 0.0 END AS coef
         FROM documents d
           LEFT JOIN od ON od.v = d.doc_id
           LEFT JOIN idg ON idg.v = d.doc_id
           LEFT JOIN deg ON deg.v = d.doc_id
           LEFT JOIN tc ON tc.node_id = d.doc_id
         ORDER BY node_id"""),

    // degree distribution of the link graph: how many nodes have each
    // undirected degree — the power-law tail check next to skew_report;
    // two bounded aggregates
    ContractQuery("q_degree_dist", (s, dir) => {
      val docs = t(s, dir, "documents")
      val n = docs.count()
      val id = col("doc_id")
      val edges = docs.select(id.as("src"), ((id + 1) % n).as("dst"))
        .union(docs.select(id.as("src"), ((id * 7 + 3) % n).as("dst")))
      val und = edges
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .filter(col("a") =!= col("b")).distinct()
      und.select(col("a").as("v")).union(und.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
        .groupBy("deg").agg(count(lit(1)).as("n_nodes"))
        .orderBy("deg")
    },
      """WITH nn AS (SELECT count(*) AS n FROM documents),
         edges0 AS (
           SELECT doc_id AS src, (doc_id + 1) % nn.n AS dst
           FROM documents CROSS JOIN nn
           UNION ALL
           SELECT doc_id, (doc_id * 7 + 3) % nn.n
           FROM documents CROSS JOIN nn),
         und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           FROM edges0 WHERE src <> dst),
         deg AS (SELECT v, count(*) AS deg FROM (
             SELECT a AS v FROM und UNION ALL SELECT b FROM und)
           GROUP BY v)
         SELECT CAST(deg AS BIGINT) AS deg,
           CAST(count(*) AS BIGINT) AS n_nodes
         FROM deg GROUP BY 1 ORDER BY deg"""),

    // bounded-round k-core peeling on the part co-purchase graph
    // (median degree ~115): 3 peels at k=90 strip the sparse periphery
    // and its cascade; the dense co-purchase core survives. Fixed rounds keep the computation recursion-free so
    // the twin unrolls it exactly.
    ContractQuery("q_kcore", (s, dir) => {
      // co-purchase edges per order WITHOUT the self-join: one map-side-
      // combined collect_set per order, then every x<y pair expanded
      // NARROWLY inside the sorted array (group size is bounded by the
      // per-order line count, so the expansion is per-row work). The
      // former distinct + self-join-on-ok shape shuffled the 600k-row
      // projection three times to enumerate the same pairs (guide §2.4:
      // remove shuffles outright); the produced edge multiset is
      // identical and peel canonicalizes + dedups internally as before.
      val items = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("ok"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      val edges = items
        .select(explode(flatten(transform(col("ps"), (x, i) =>
          transform(slice(col("ps"), i + 2, size(col("ps"))), y =>
            struct(x.as("src"), y.as("dst")))))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      graft.graph.Cores.peel(edges, k = 90, rounds = 3).orderBy("node_id")
    },
      // the 3 peels unrolled as chained CTEs, then the final degree filter
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
           FROM lineitem),
         e0 AS (SELECT DISTINCT a.pk AS a, b.pk AS b
           FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
         d1 AS (SELECT v, count(*) AS deg FROM (
             SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0) GROUP BY v),
         k1 AS (SELECT v FROM d1 WHERE deg >= 90),
         e1 AS (SELECT e0.a, e0.b FROM e0
           JOIN k1 x ON x.v = e0.a JOIN k1 y ON y.v = e0.b),
         d2 AS (SELECT v, count(*) AS deg FROM (
             SELECT a AS v FROM e1 UNION ALL SELECT b FROM e1) GROUP BY v),
         k2 AS (SELECT v FROM d2 WHERE deg >= 90),
         e2 AS (SELECT e1.a, e1.b FROM e1
           JOIN k2 x ON x.v = e1.a JOIN k2 y ON y.v = e1.b),
         d3 AS (SELECT v, count(*) AS deg FROM (
             SELECT a AS v FROM e2 UNION ALL SELECT b FROM e2) GROUP BY v),
         k3 AS (SELECT v FROM d3 WHERE deg >= 90),
         e3 AS (SELECT e2.a, e2.b FROM e2
           JOIN k3 x ON x.v = e2.a JOIN k3 y ON y.v = e2.b),
         df AS (SELECT v, count(*) AS deg FROM (
             SELECT a AS v FROM e3 UNION ALL SELECT b FROM e3) GROUP BY v)
         SELECT v AS node_id, CAST(deg AS BIGINT) AS deg FROM df
         WHERE deg >= 90 ORDER BY node_id"""),

    // deterministic negative sampling for link prediction: affine
    // proposals anti-joined against the (undirected) edge set — same
    // negatives on every run/partitioning/engine, unlike RNG sampling
    ContractQuery("q_negative_edges", (s, dir) => {
      val docs = t(s, dir, "documents")
      val n = docs.count() // single bounded scalar, never data-sized
      val id = col("doc_id")
      val nodes = docs.select(id.as("node_id"))
      val edges = ringSkipAffineEdges(docs, n, id)
      graft.graph.Negatives.sample(nodes, edges, n, proposals = 3)
        .orderBy("src", "dst")
    },
      // affine proposals minus the undirected edge set
      """WITH nn AS (SELECT count(*) AS n FROM documents),
         edges0 AS (
           SELECT doc_id AS src, (doc_id + 1) % nn.n AS dst
           FROM documents CROSS JOIN nn
           UNION ALL
           SELECT doc_id, (doc_id + 2) % nn.n
           FROM documents CROSS JOIN nn
           UNION ALL
           SELECT doc_id, (doc_id * 7 + 3) % nn.n
           FROM documents CROSS JOIN nn),
         und AS (SELECT src, dst FROM edges0
           UNION SELECT dst AS src, src AS dst FROM edges0),
         prop AS (
           SELECT DISTINCT doc_id AS src,
             (doc_id * (11 + 2 * v.c) + (5 + v.c)) % nn.n AS dst
           FROM documents CROSS JOIN nn
             CROSS JOIN (VALUES (0), (1), (2)) AS v(c)
           WHERE doc_id <> (doc_id * (11 + 2 * v.c) + (5 + v.c)) % nn.n)
         SELECT p.src, p.dst FROM prop p
         WHERE NOT EXISTS (SELECT 1 FROM und u
           WHERE u.src = p.src AND u.dst = p.dst)
         ORDER BY src, dst"""),

    // weighted cheapest paths (4 Bellman-Ford relax rounds = exact min
    // cost over ≤4-hop paths) on the same ring+skip+affine graph as
    // q_bfs, with deterministic integer weights; the twin is the
    // recursive-CTE min over all bounded-hop paths
    ContractQuery("q_sssp", (s, dir) => {
      val docs = t(s, dir, "documents")
      val n = docs.count() // single bounded scalar, never data-sized
      val id = col("doc_id")
      val edges = ringSkipAffineEdges(docs, n, id)
        .withColumn("w", (col("src") % 5) + 1)
      val sources = docs.filter(id < 2).select(id.as("node_id"))
      graft.graph.Sssp.cheapestPaths(edges, sources, maxHops = 4)
        .orderBy("node_id")
    },
      // min cost over all ≤4-hop paths from the seed set (recursive CTE);
      // the engine's 4 relax rounds must produce exactly this table
      """WITH RECURSIVE nn AS (SELECT count(*) AS c FROM documents),
         edges AS (
           SELECT doc_id AS src, (doc_id + 1) % (SELECT c FROM nn) AS dst,
             doc_id % 5 + 1 AS w FROM documents
           UNION ALL
           SELECT doc_id, (doc_id + 2) % (SELECT c FROM nn),
             doc_id % 5 + 1 FROM documents
           UNION ALL
           SELECT doc_id, (doc_id * 7 + 3) % (SELECT c FROM nn),
             doc_id % 5 + 1 FROM documents),
         reach(id, cost, hops) AS (
           SELECT doc_id, CAST(0 AS BIGINT), 0 FROM documents
           WHERE doc_id < 2
           UNION
           SELECT e.dst, r.cost + e.w, r.hops + 1
           FROM reach r JOIN edges e ON e.src = r.id
           WHERE r.hops < 4)
         SELECT id AS node_id, min(cost) AS cost FROM reach
         GROUP BY id ORDER BY node_id"""),

    // deterministic label-propagation communities (3 synchronous rounds,
    // smallest-label ties) on the same ring+skip+affine graph as
    // q_triangles/q_bfs, reported as (label, member count); the twin
    // unrolls the rounds with a row_number argmax per node
    ContractQuery("q_label_prop", (s, dir) => {
      val docs = t(s, dir, "documents")
      val n = docs.count() // single bounded scalar, never data-sized
      val id = col("doc_id")
      val edges = ringSkipAffineEdges(docs, n, id)
      val nodes = docs.select(id.as("id"))
      graft.graph.LabelProp.run(nodes, edges, iters = 3)
        .groupBy("label").agg(count(lit(1)).as("n_members"))
        .orderBy("label")
    },
      // 3 unrolled synchronous label-prop rounds (see labelPropTwin)
      labelPropTwin(3)),

    // multi-source BFS seed distance (TrustRank-style hop prior) on the
    // same ring+skip+affine synthetic graph as q_triangles; level-
    // synchronous frontier expansion, every step an equi-join on a node
    // id — the twin replays it as a recursive CTE with min-over-paths
    ContractQuery("q_bfs", (s, dir) => {
      val docs = t(s, dir, "documents")
      val n = docs.count() // single bounded scalar, never data-sized
      val id = col("doc_id")
      val edges = ringSkipAffineEdges(docs, n, id)
      val sources = docs.filter(id < 2).select(id.as("node_id"))
      graft.graph.Bfs.hops(edges, sources, maxHops = 4).orderBy("node_id")
    },
      // recursive-CTE replay of the level-synchronous BFS: every path of
      // <= 4 hops enumerated, min(hop) per node = the BFS first-visit level
      """WITH RECURSIVE nn AS (SELECT count(*) AS n FROM documents),
         edges AS (
           SELECT doc_id AS src, (doc_id + 1) % nn.n AS dst
           FROM documents CROSS JOIN nn
           UNION ALL
           SELECT doc_id, (doc_id + 2) % nn.n
           FROM documents CROSS JOIN nn
           UNION ALL
           SELECT doc_id, (doc_id * 7 + 3) % nn.n
           FROM documents CROSS JOIN nn),
         walk(node_id, hop) AS (
           SELECT doc_id, CAST(0 AS BIGINT) FROM documents WHERE doc_id < 2
           UNION ALL
           SELECT e.dst, w.hop + 1
           FROM walk w JOIN edges e ON e.src = w.node_id
           WHERE w.hop < 4)
         SELECT node_id, min(hop) AS hop FROM walk
         GROUP BY node_id ORDER BY node_id"""),

    // HITS hubs/authorities (2 unnormalized rounds) on the affine link
    // graph — exact path-count integers, so plain sum() is deterministic
    // under any partitioning and the twin replays the rounds verbatim
    ContractQuery("q_hits", (s, dir) => {
      val docs = t(s, dir, "documents")
      val n = docs.count() // single bounded scalar, never data-sized
      val id = col("doc_id")
      val nodes = docs.select(id.as("node_id"))
      val edges = docs.select(id.as("src"), ((id * 7 + 3) % n).as("dst"))
        .union(docs.select(id.as("src"), ((id * 13 + 5) % n).as("dst")))
      graft.graph.Hits.run(nodes, edges, iters = 2)
        .orderBy("node_id")
    },
      // two staged HITS rounds in exact BIGINT arithmetic (sum cast back
      // from DuckDB's HUGEINT to match Spark's long sums)
      """WITH nn AS (SELECT count(*) AS n FROM documents),
         nodes AS (SELECT doc_id AS node_id FROM documents),
         edges AS (
           SELECT doc_id AS src, (doc_id * 7 + 3) % nn.n AS dst
           FROM documents CROSS JOIN nn
           UNION ALL
           SELECT doc_id, (doc_id * 13 + 5) % nn.n
           FROM documents CROSS JOIN nn),
         h0 AS (SELECT node_id, CAST(1 AS BIGINT) AS hub FROM nodes),
         a1 AS (SELECT nodes.node_id,
             coalesce(s.a, CAST(0 AS BIGINT)) AS authority
           FROM nodes LEFT JOIN (
             SELECT e.dst, CAST(sum(h0.hub) AS BIGINT) AS a
             FROM edges e JOIN h0 ON e.src = h0.node_id GROUP BY e.dst) s
           ON s.dst = nodes.node_id),
         h1 AS (SELECT nodes.node_id,
             coalesce(s.h, CAST(0 AS BIGINT)) AS hub
           FROM nodes LEFT JOIN (
             SELECT e.src, CAST(sum(a1.authority) AS BIGINT) AS h
             FROM edges e JOIN a1 ON e.dst = a1.node_id GROUP BY e.src) s
           ON s.src = nodes.node_id),
         a2 AS (SELECT nodes.node_id,
             coalesce(s.a, CAST(0 AS BIGINT)) AS authority
           FROM nodes LEFT JOIN (
             SELECT e.dst, CAST(sum(h1.hub) AS BIGINT) AS a
             FROM edges e JOIN h1 ON e.src = h1.node_id GROUP BY e.dst) s
           ON s.dst = nodes.node_id),
         h2 AS (SELECT nodes.node_id,
             coalesce(s.h, CAST(0 AS BIGINT)) AS hub
           FROM nodes LEFT JOIN (
             SELECT e.src, CAST(sum(a2.authority) AS BIGINT) AS h
             FROM edges e JOIN a2 ON e.dst = a2.node_id GROUP BY e.src) s
           ON s.src = nodes.node_id)
         SELECT a2.node_id, a2.authority, h2.hub
         FROM a2 JOIN h2 USING (node_id) ORDER BY node_id"""),

    // TrustRank (personalized PageRank): teleport mass restricted to the
    // doc_id < 2 seed set on the same affine link graph as q_pagerank —
    // rank decays with link distance from the seeds; the twin replays
    // every iteration with seed-conditional base/init expressions
    ContractQuery("q_trustrank", (s, dir) => {
      val docs = t(s, dir, "documents")
      val n = docs.count() // single bounded scalar, never data-sized
      val nodes = docs.select(col("doc_id").as("node_id"))
      val edges = docs.select(col("doc_id").as("src"),
          ((col("doc_id") * 7 + 3) % n).as("dst"))
        .union(docs.select(col("doc_id").as("src"),
          ((col("doc_id") * 13 + 5) % n).as("dst")))
      val seeds = docs.filter(col("doc_id") < 2)
        .select(col("doc_id").as("node_id"))
      graft.graph.PageRank.personalizedRun(nodes, edges, seeds,
          nSeeds = 2, iters = 3)
        .select(col("node_id"), round(col("rank"), 6).as("tr"))
        .orderBy("node_id")
    },
      // same replay with seed-personalized teleport (TrustRank)
      trustRankTwin(iters = 3))
  )
}
