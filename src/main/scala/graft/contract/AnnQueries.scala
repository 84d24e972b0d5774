package graft
package contract

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dedup.Dedup
import graft.functions.native
import graft.similarity.Ann

import Shared._

/** Vector similarity: exact and approximate nearest neighbours, index lifecycle. */
object AnnQueries {

  /** MMR replay: exact top-`n` for query 0 with the q_ann_topk cosine
    * formulation, the n×n rounded sim matrix, then the `k` greedy rounds
    * unrolled as chained CTEs (same unrolling device as [[bpeTwin]]).
    * Rel and sims are rounded to 6 decimals BEFORE selection on both
    * engines, and 0.7/0.3 are cast to DOUBLE (bare literals are DECIMAL
    * in DuckDB). */
  private def mmrTwin(k: Int, n: Int): String = {
    val head =
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id = 0),
         scored AS (
           SELECT e.vec_id AS id,
             round(list_dot_product((SELECT qv FROM q),
                 CAST(e.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product((SELECT qv FROM q),
                       (SELECT qv FROM q)))
                  * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                         CAST(e.embedding AS DOUBLE[])))), 6) AS rel
           FROM embeddings e WHERE e.vec_id <> 0),
         cand AS MATERIALIZED (SELECT id, rel FROM scored
           ORDER BY rel DESC, id ASC LIMIT $n),
         cv AS (SELECT c.id, CAST(e.embedding AS DOUBLE[]) AS v
           FROM cand c JOIN embeddings e ON e.vec_id = c.id),
         simm AS (SELECT a.id AS id_a, b.id AS id_b,
             round(list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
           FROM cv a JOIN cv b ON a.id < b.id),
         sym AS MATERIALIZED (SELECT id_a, id_b, sim FROM simm
           UNION ALL SELECT id_b, id_a, sim FROM simm),
         s1 AS (SELECT id, rel FROM cand ORDER BY rel DESC, id LIMIT 1),
         p1 AS MATERIALIZED (SELECT id FROM s1)"""
    val rounds = (2 to k).map { r =>
      s""",
         s$r AS MATERIALIZED (SELECT c.id, c.rel FROM cand c
           WHERE c.id NOT IN (SELECT id FROM p${r - 1})
           ORDER BY CAST(0.7 AS DOUBLE) * c.rel - CAST(0.3 AS DOUBLE) *
             (SELECT max(sim) FROM sym m WHERE m.id_a = c.id
              AND m.id_b IN (SELECT id FROM p${r - 1})) DESC, c.id
           LIMIT 1),
         p$r AS MATERIALIZED (SELECT id FROM p${r - 1}
           UNION ALL SELECT id FROM s$r)"""
    }.mkString
    val finals = (1 to k).map(r =>
      s"SELECT CAST($r AS BIGINT) AS rank, id AS doc_id, rel AS relevance FROM s$r")
      .mkString("\n         UNION ALL ")
    head + rounds + "\n         " + finals + "\n         ORDER BY rank"
  }

  /** Blocked k-NN graph twin, shared by q_knn_graph and the budget-gated
    * q_knn_graph_auto (whose auto cell choice lands on the same 8 cells
    * at both gate scales): the bit-deterministic k-means prefix, then
    * exact cosine ranks WITHIN each a1 cell. One val so the pair can
    * never drift apart. */
  private val knnGraphTwinSql: String = kmeansAssignCtes +
    """,
       scored AS (
         SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
         FROM a1 a JOIN a1 b ON a.cid = b.cid AND a.vec_id <> b.vec_id),
       ranked AS (
         SELECT query_id,
           CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank,
           neighbor_id, cosine
         FROM scored)
       SELECT query_id, rank, neighbor_id, cosine FROM ranked
       WHERE rank <= 3 ORDER BY query_id, rank"""

  /** The deterministic hyperplanes (Ann.hyperplanes, seed 42) as DuckDB
    * DOUBLE[] literals — Double.toString round-trips exactly, so DuckDB's
    * list_dot_product sees bit-identical plane values and the bucket signs
    * match the Spark kernel's. */
  private def planeLiteral(p: Seq[Float]): String =
    p.map(_.toDouble.toString).mkString("[", ", ", "]")

  /** Sign-bit bucket expression over `v` for the embedding near-dup twin. */
  private def embBucketSql(planes: Int, dim: Int): String =
    graft.similarity.Ann.hyperplanes(planes, dim).zipWithIndex.map {
      case (p, i) =>
        s"(CASE WHEN list_dot_product(v, ${planeLiteral(p)}) > 0.0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")

  /** Full DuckDB twin of the IVF path (k-means prefix + nprobe=2 probe
    * selection + exact cosine top-k over the probed lists), parameterized
    * by the query-set size — q_ann_ivf uses 10 queries; q_ann_ivf_pruned
    * uses 2 so its probe union is a strict subset of the 8 inverted lists
    * and the partition pruning is observable (the pruned variant only
    * changes WHERE the lists are read from, never the result). */
  private def ivfFullTwin(nQueries: Int): String =
    kmeansAssignCtes + ivfProbeSuffix(nQueries)

  /** One stage of the drift-audit twin (q_ann_drift): k-means trained on
    * the resident 80%, assignment AND the exact brute-force answer
    * restricted to the stage corpus, nprobe=2 probe + approximate top-5,
    * intersected with the exact top-5 — Ann.recallAtK's expression
    * (coalesced hit counts, LEAST-capped denominator, 0.0 for empty
    * exact sets) mirrored exactly. Emitted as a WITH-bearing subquery so
    * the stages UNION ALL under one statement. */
  private def annDriftStageSql(stage: Int, corpusWhere: String,
      baseWhere: String = "vec_id % 5 <> 0"): String =
    s"""SELECT CAST($stage AS INTEGER) AS stage, t.* FROM (
         ${kmeansAssignCorpusCtes(baseWhere, corpusWhere)},
         q AS (SELECT vec_id AS query_id, v AS qv FROM e
               WHERE vec_id < 10),
         probes AS (
           SELECT query_id, qv, cid FROM (
             SELECT q.query_id, q.qv, c.cid,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 (list_dot_product(q.qv, c.cv)
                  / (sqrt(list_dot_product(q.qv, q.qv))
                     * sqrt(list_dot_product(c.cv, c.cv)))) DESC,
                 c.cid ASC) AS rn
             FROM q CROSS JOIN c1 c) WHERE rn <= 2),
         ap AS (
           SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id ASC) AS rank
             FROM (
               SELECT p.query_id, a1.vec_id AS neighbor_id,
                 round(list_dot_product(p.qv, a1.v)
                   / (sqrt(list_dot_product(p.qv, p.qv))
                      * sqrt(list_dot_product(a1.v, a1.v))), 6) AS cosine
               FROM a1 JOIN probes p
                 ON a1.cid = p.cid AND a1.vec_id <> p.query_id))
           WHERE rank <= 5),
         ex AS (
           SELECT query_id, neighbor_id FROM (
             SELECT q.query_id, ec.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 round(list_dot_product(q.qv, ec.v)
                   / (sqrt(list_dot_product(q.qv, q.qv))
                      * sqrt(list_dot_product(ec.v, ec.v))), 6) DESC,
                 ec.vec_id ASC) AS rn
             FROM (SELECT * FROM e WHERE $corpusWhere) ec JOIN q
               ON ec.vec_id <> q.query_id) WHERE rn <= 5),
         hits AS (SELECT ex.query_id, count(*) AS n_hit
                  FROM ex JOIN ap ON ex.query_id = ap.query_id
                    AND ex.neighbor_id = ap.neighbor_id
                  GROUP BY ex.query_id),
         exn AS (SELECT query_id, count(*) AS n_exact FROM ex
                 GROUP BY query_id)
         SELECT q.query_id, CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
           CASE WHEN coalesce(x.n_exact, 0) = 0 THEN 0.0
                ELSE CAST(coalesce(h.n_hit, 0) AS DOUBLE)
                     / LEAST(5, x.n_exact) END AS recall_at_5
         FROM q LEFT JOIN hits h ON q.query_id = h.query_id
              LEFT JOIN exn x ON q.query_id = x.query_id) t"""

  /** Full twin of q_ann_drift: three stage blocks — resident only, +half
    * the appended batch, +all of it — each a complete train-on-resident →
    * assign-stage-corpus → probe → recall replay, UNION ALL'd. */
  private lazy val annDriftTwin: String =
    Seq("vec_id % 5 <> 0",
        "(vec_id % 5 <> 0 OR vec_id % 10 = 0)",
        "TRUE").zipWithIndex
      .map { case (w, i) => annDriftStageSql(i, w) }
      .mkString("\n         UNION ALL\n         ") +
      "\n         ORDER BY stage, query_id"

  /** Full DuckDB twin of the PQ path (q_ann_pq): per-subspace k-means —
    * lowest-id seeds on the SLICED vectors, one Lloyd iteration with the
    * same ordered-fold mean as [[kmeansAssignCtes]], nearest-codebook
    * codes — then ADC scoring: the sum of per-subspace dots between the
    * query slice and each neighbor's code centroid, left-to-right like
    * the engine's fixed reduce chain, ranked per query. */
  private def pqFullTwin(m: Int, sub: Int, k: Int, nQueries: Int,
      topk: Int): String =
    pqCtes(m, sub, k, nQueries) + s"""
         SELECT query_id, rank, neighbor_id, adc_dot FROM ranked
         WHERE rank <= $topk ORDER BY query_id, rank"""

  /** PQ recall twin (q_pq_recall): the shared PQ CTE chain ranked by ADC,
    * intersected per query with the exact full-precision cosine top-k —
    * the same recall contract as q_ann_recall. */
  private def pqRecallTwin(m: Int, sub: Int, k: Int, nQueries: Int,
      topk: Int): String =
    pqCtes(m, sub, k, nQueries) + s""",
         ex AS (
           SELECT query_id, neighbor_id FROM (
             SELECT q.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 round(list_dot_product(q.qv, e.v)
                   / (sqrt(list_dot_product(q.qv, q.qv))
                      * sqrt(list_dot_product(e.v, e.v))), 6) DESC,
                 e.vec_id ASC) AS rn
             FROM e JOIN q ON e.vec_id <> q.query_id) WHERE rn <= $topk),
         ap AS (SELECT query_id, neighbor_id FROM ranked
                WHERE rank <= $topk),
         hits AS (SELECT ex.query_id, count(*) AS n_hit
                  FROM ex JOIN ap ON ex.query_id = ap.query_id
                    AND ex.neighbor_id = ap.neighbor_id
                  GROUP BY ex.query_id),
         exn AS (SELECT query_id, count(*) AS n_exact FROM ex
                 GROUP BY query_id)
         SELECT q.query_id, CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
           CASE WHEN coalesce(x.n_exact, 0) = 0 THEN 0.0
                ELSE CAST(coalesce(h.n_hit, 0) AS DOUBLE)
                     / LEAST($topk, x.n_exact) END AS recall_at_$topk
         FROM q LEFT JOIN hits h ON q.query_id = h.query_id
              LEFT JOIN exn x ON q.query_id = x.query_id
         ORDER BY q.query_id"""

  /** Per-subspace PQ training + encoding CTEs (sl/seeds/asg/vals/mm/cb/
    * code per subspace), shared by the standalone PQ twins and the
    * IVF+PQ twin. Assumes an `e (vec_id, v)` CTE is already in scope. */
  private def pqPerSubCtes(m: Int, sub: Int, k: Int): String =
    (0 until m).map { mi =>
      val lo = mi * sub + 1
      val hi = lo + sub - 1
      s"""sl$mi AS (SELECT vec_id, list_slice(v, $lo, $hi) AS sv FROM e),
         seeds$mi AS (
           SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
               AS cid, sv
           FROM (SELECT * FROM sl$mi ORDER BY vec_id LIMIT $k)),
         asg$mi AS (
           SELECT vec_id, sv, cid FROM (
             SELECT s.vec_id, s.sv, d.cid,
               row_number() OVER (PARTITION BY s.vec_id ORDER BY
                 (list_dot_product(s.sv, d.sv)
                  / (sqrt(list_dot_product(s.sv, s.sv))
                     * sqrt(list_dot_product(d.sv, d.sv)))) DESC,
                 d.cid ASC) AS rn
             FROM sl$mi s CROSS JOIN seeds$mi d) WHERE rn = 1),
         vals$mi AS (
           SELECT a.cid, t.i AS dim, a.sv[t.i] AS val, a.vec_id
           FROM asg$mi a, unnest(generate_series(1, $sub)) AS t(i)),
         mm$mi AS (
           SELECT cid, dim,
             CAST(list_reduce(list(val ORDER BY vec_id), (x, y) -> x + y)
               / count(*) AS FLOAT) AS f
           FROM vals$mi GROUP BY cid, dim),
         cb$mi AS (SELECT cid, list(CAST(f AS DOUBLE) ORDER BY dim) AS cv
                   FROM mm$mi GROUP BY cid),
         code$mi AS (
           SELECT vec_id, cid AS code FROM (
             SELECT s.vec_id, c.cid,
               row_number() OVER (PARTITION BY s.vec_id ORDER BY
                 (list_dot_product(s.sv, c.cv)
                  / (sqrt(list_dot_product(s.sv, s.sv))
                     * sqrt(list_dot_product(c.cv, c.cv)))) DESC,
                 c.cid ASC) AS rn
             FROM sl$mi s CROSS JOIN cb$mi c) WHERE rn = 1)"""
    }.mkString(",\n         ")

  /** ADC approximate dot: sum over subspaces of dot(query slice, code
    * centroid), left-to-right like the engine's fixed reduce chain.
    * `qvAlias` is the table alias holding the full-precision `qv`. */
  private def pqAdcSum(m: Int, sub: Int, qvAlias: String): String =
    (0 until m).map { mi =>
      val lo = mi * sub + 1
      val hi = lo + sub - 1
      s"list_dot_product(list_slice($qvAlias.qv, $lo, $hi), cb$mi.cv)"
    }.mkString("\n               + ")

  /** Joins stitching the m per-subspace code and codebook CTEs onto
    * code0's vec_id spine. */
  private def pqStoreJoins(m: Int): String = {
    val codeJoins = (1 until m).map { mi =>
      s"JOIN code$mi ON code$mi.vec_id = code0.vec_id"
    }.mkString("\n             ")
    val cbJoins = (0 until m).map { mi =>
      s"JOIN cb$mi ON cb$mi.cid = code$mi.code"
    }.mkString("\n             ")
    codeJoins + "\n             " + cbJoins
  }

  /** Full DuckDB twin of the IVFADC path (q_ann_ivfpq): the IVF k-means
    * prefix ([[kmeansAssignCtes]]: e/seeds/a0/vals/m1/c1/a1) + the PQ
    * per-subspace chain ([[pqPerSubCtes]]) + nprobe probe selection over
    * the trained centroids + ADC scoring restricted to the probed
    * inverted lists. Name-disjoint by construction: the IVF prefix uses
    * bare names (seeds, vals, c1, a1), the PQ chain suffixes per
    * subspace (seeds0.., cb0..). */
  private def ivfPqTwin(m: Int, sub: Int, k: Int, nQueries: Int,
      topk: Int, nprobe: Int): String =
    kmeansAssignCtes + ",\n         " + pqPerSubCtes(m, sub, k) + s""",
         probes AS (
           SELECT query_id, qv, cid FROM (
             SELECT e.vec_id AS query_id, e.v AS qv, c.cid,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 (list_dot_product(e.v, c.cv)
                  / (sqrt(list_dot_product(e.v, e.v))
                     * sqrt(list_dot_product(c.cv, c.cv)))) DESC,
                 c.cid ASC) AS rn
             FROM e CROSS JOIN c1 c WHERE e.vec_id < $nQueries)
           WHERE rn <= $nprobe),
         scored AS (
           SELECT p.query_id, code0.vec_id AS neighbor_id,
             round(${pqAdcSum(m, sub, "p")}, 6) AS adc_dot
           FROM code0
             ${pqStoreJoins(m)}
             JOIN a1 ON a1.vec_id = code0.vec_id
             JOIN probes p ON a1.cid = p.cid
           WHERE code0.vec_id <> p.query_id),
         ranked AS (
           SELECT query_id,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY adc_dot DESC, neighbor_id ASC) AS BIGINT) AS rank,
             neighbor_id, adc_dot
           FROM scored)
         SELECT query_id, rank, neighbor_id, adc_dot FROM ranked
         WHERE rank <= $topk ORDER BY query_id, rank"""

  /** Shared PQ CTE chain — training, encoding and ADC ranking — ending at
    * `ranked` (query_id, rank, neighbor_id, adc_dot). */
  private def pqCtes(m: Int, sub: Int, k: Int, nQueries: Int): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings),
         ${pqPerSubCtes(m, sub, k)},
         q AS (SELECT vec_id AS query_id, v AS qv FROM e
               WHERE vec_id < $nQueries),
         scored AS (
           SELECT q.query_id, code0.vec_id AS neighbor_id,
             round(${pqAdcSum(m, sub, "q")}, 6) AS adc_dot
           FROM code0
             ${pqStoreJoins(m)}
             CROSS JOIN q
           WHERE code0.vec_id <> q.query_id),
         ranked AS (
           SELECT query_id,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY adc_dot DESC, neighbor_id ASC) AS BIGINT) AS rank,
             neighbor_id, adc_dot
           FROM scored)"""

  /** SemDeDup twin: the k-means prefix, then exact-cosine pairs strictly
    * within a cluster (each vector is in exactly one cluster, so the pair
    * set is unique by construction — the twin needs no dedup step). */
  private val semdedupTwin: String = kmeansAssignCtes +
    """,
         pairs AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
           FROM a1 a JOIN a1 b ON a.cid = b.cid AND a.vec_id < b.vec_id)
         SELECT id_a, id_b, cosine FROM pairs
         WHERE cosine >= 0.2 ORDER BY id_a, id_b"""

  val queries: Seq[ContractQuery] = Seq(
    // embedding cosine near-dup pairs via hyperplane LSH; the oracle
    // recomputes the buckets from the same plane literals + exact cosine
    ContractQuery("q_embed_neardup", (s, dir) =>
      Dedup.embeddingNearDupPairs(t(s, dir, "embeddings"),
          threshold = 0.2, planes = 4)
        .orderBy("id_a", "id_b"),
      // hyperplane buckets recomputed in DuckDB from the same (literal-
      // embedded) planes + exact cosine — full two-sided twin
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings),
         b AS (SELECT vec_id, v, ${embBucketSql(4, 64)} AS bucket FROM e),
         ok AS (SELECT bucket FROM b GROUP BY bucket HAVING count(*) <= 2000),
         bb AS (SELECT b.* FROM b JOIN ok USING (bucket))
         SELECT a.vec_id AS id_a, c.vec_id AS id_b,
           round(list_dot_product(a.v, c.v)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
         FROM bb a JOIN bb c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
         WHERE round(list_dot_product(a.v, c.v)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(c.v, c.v))), 6) >= 0.2
         ORDER BY id_a, id_b"""),

    // SemDeDup (cluster-then-compare, Abbas et al. 2023): deterministic
    // k-means partitions the corpus, exact cosine only WITHIN a cluster —
    // O(Σ cᵢ²) not O(n²). Bit-deterministic training means the oracle
    // twins the entire path: seeds → Lloyd → assignment → pairs.
    ContractQuery("q_semdedup", (s, dir) =>
      Dedup.semanticNearDupPairs(t(s, dir, "embeddings"), k = 8,
          threshold = 0.2)
        .orderBy("id_a", "id_b"),
      // SemDeDup: same deterministic k-means prefix, then within-cluster
      // exact-cosine pair enumeration — the cluster partition (not just the
      // survivors) is what the twin proves
      semdedupTwin),

    // recall@5 of the LSH index vs the exact answer — per query hit count
    // and recall; zero-hit queries stay visible. The twin recomputes both
    // the exact and the bucketed top-5 and intersects them.
    ContractQuery("q_ann_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = Ann.selfQueries(emb, 10)
      val exact = Ann.bruteForceTopK(emb, qs, k = 5)
      val approx = Ann.lshTopK(emb, qs, k = 5, planes = 6)
      Ann.recallAtK(exact, approx, qs, k = 5)
        .orderBy("query_id")
    },
      // both the exact and the LSH-bucketed top-5 recomputed, intersected
      // per query; zero-hit queries kept by the left join
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
          b AS (SELECT vec_id, v, ${embBucketSql(6, 64)} AS bucket FROM e),
          q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b
                WHERE vec_id < 10),
          ex AS (
            SELECT query_id, neighbor_id FROM (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                row_number() OVER (PARTITION BY q.query_id ORDER BY
                  round(list_dot_product(q.qv, e.v)
                    / (sqrt(list_dot_product(q.qv, q.qv))
                       * sqrt(list_dot_product(e.v, e.v))), 6) DESC,
                  e.vec_id ASC) AS rn
              FROM e JOIN q ON e.vec_id <> q.query_id) WHERE rn <= 5),
          ap AS (
            SELECT query_id, neighbor_id FROM (
              SELECT q.query_id, c.vec_id AS neighbor_id,
                row_number() OVER (PARTITION BY q.query_id ORDER BY
                  round(list_dot_product(q.qv, c.v)
                    / (sqrt(list_dot_product(q.qv, q.qv))
                       * sqrt(list_dot_product(c.v, c.v))), 6) DESC,
                  c.vec_id ASC) AS rn
              FROM b c JOIN q ON c.bucket = q.bucket
                AND c.vec_id <> q.query_id) WHERE rn <= 5),
          hits AS (SELECT ex.query_id, count(*) AS n_hit
                   FROM ex JOIN ap ON ex.query_id = ap.query_id
                     AND ex.neighbor_id = ap.neighbor_id
                   GROUP BY ex.query_id),
          exn AS (SELECT query_id, count(*) AS n_exact FROM ex
                  GROUP BY query_id)
          SELECT q.query_id, CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
            CASE WHEN coalesce(x.n_exact, 0) = 0 THEN 0.0
                 ELSE CAST(coalesce(h.n_hit, 0) AS DOUBLE)
                      / LEAST(5, x.n_exact) END AS recall_at_5
          FROM q LEFT JOIN hits h ON q.query_id = h.query_id
               LEFT JOIN exn x ON q.query_id = x.query_id
          ORDER BY q.query_id"""),

    // hard-negative mining (contrastive training): per query, the top-5
    // most-similar vectors with a DIFFERENT label — brute-force shape with
    // the label-mismatch predicate in the broadcast join
    ContractQuery("q_hard_negatives", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_vec"), col("label").as("query_label"))
      Ann.hardNegatives(emb, queries, k = 5)
        .orderBy("query_id", "rank")
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
               FROM embeddings),
         q AS (SELECT vec_id AS query_id, v AS qv, label AS ql FROM e
               WHERE vec_id < 10),
         scored AS (
           SELECT q.query_id, e.vec_id AS neighbor_id,
             round(list_dot_product(q.qv, e.v)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(e.v, e.v))), 6) AS cosine
           FROM e JOIN q ON e.label <> q.ql AND e.vec_id <> q.query_id),
         ranked AS (
           SELECT query_id,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank,
             neighbor_id, cosine
           FROM scored)
         SELECT query_id, rank, neighbor_id, cosine FROM ranked
         WHERE rank <= 5 ORDER BY query_id, rank"""),

    // Johnson–Lindenstrauss ±1 projection 64→16 dims (Achlioptas 2003),
    // signs derandomized from the two-limb Knuth hash of (i*131+j) so no
    // projection matrix is stored or shuffled — a pure narrow map at any
    // corpus size (the IO/memory reducer upstream of ANN at 100 TB).
    // In-index-order fold per output dim; rows exploded for the driver
    // comparator like q_embed_normalize.
    ContractQuery("q_jl_project", (s, dir) =>
      Ann.jlProject(t(s, dir, "embeddings").filter(col("vec_id") < 50))
        .select(col("vec_id"),
          posexplode(col("embedding_proj")).as(Seq("dim", "value")))
        .orderBy("vec_id", "dim"),
      // same signs from hash32Sql, same in-order fold, same 1/sqrt(16)
      s"""SELECT vec_id, CAST(j AS INT) AS dim,
           list_reduce(
             list_prepend(CAST(0 AS DOUBLE),
               list_transform(generate_series(1, 64),
                 i -> CAST(embedding[i] AS DOUBLE) *
                   (CAST(1 AS DOUBLE) - CAST(2 AS DOUBLE) *
                     ((${hash32Sql("(i-1)*131 + j")}) % 2)))),
             (a, b) -> a + b) / sqrt(CAST(16 AS DOUBLE)) AS value
         FROM embeddings, unnest(generate_series(0, 15)) AS t(j)
         WHERE vec_id < 50
         ORDER BY vec_id, dim"""),

    // L2 normalization (unit vectors — cosine becomes plain dot product):
    // per-element division by the index-order norm, both correctly
    // rounded, so the full unit vectors hash-check bit-exactly. The
    // vector is serialized as exploded (vec_id, pos, unit) FLOAT rows so
    // the driver comparator can sort scalar columns (raw array cells
    // crash pandas sort_values) — every component is still compared
    // bit-for-bit, unlike a decimal-string rendering, whose sci-notation
    // thresholds differ between the two engines.
    ContractQuery("q_embed_normalize", (s, dir) =>
      Ann.l2Normalize(t(s, dir, "embeddings"))
        .select(col("vec_id"),
          posexplode(col("embedding_unit")).as(Seq("pos", "unit")))
        .orderBy("vec_id", "pos"),
      // unit vector exploded to (vec_id, pos, unit) FLOAT rows on BOTH
      // engines: the division and both casts are correctly rounded, so
      // every component compares bit-for-bit
      """SELECT vec_id, CAST(i - 1 AS INT) AS pos,
           CASE WHEN list_dot_product(v, v) = 0.0
                THEN CAST(0.0 AS FLOAT)
                ELSE CAST(v[i] / sqrt(list_dot_product(v, v)) AS FLOAT)
           END AS unit
         FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
              unnest(generate_series(1, length(v))) AS g(i)
         ORDER BY vec_id, pos"""),

    // scalar int8 quantization (FAISS-SQ8 style, 4x memory/IO cut before
    // indexing): corpus-wide per-dim min/max → affine codes in [-127,127].
    // Integer codes are engine-exact, so the full path (range pass +
    // encode) hash-checks against the DuckDB twin. Codes serialized to a
    // CSV string for the same driver-comparator reason as above.
    ContractQuery("q_quantize", (s, dir) =>
      Ann.int8Quantize(t(s, dir, "embeddings"))
        .select(col("vec_id"),
          array_join(col("codes").cast(ArrayType(StringType)), ",")
            .as("codes_csv"))
        .orderBy("vec_id"),
      """WITH u AS (SELECT vec_id, i AS pos,
             CAST(embedding[i] AS DOUBLE) AS x
           FROM embeddings,
                unnest(generate_series(1, length(embedding))) AS g(i)),
         r AS (SELECT pos, min(x) AS lo, max(x) AS hi FROM u GROUP BY pos),
         c AS (SELECT vec_id, pos,
                 CASE WHEN hi = lo THEN 0
                      ELSE CAST(round((x - lo) * 254.0 / (hi - lo)) - 127
                           AS INT) END AS code
               FROM u JOIN r USING (pos))
         SELECT vec_id,
           string_agg(CAST(code AS VARCHAR), ',' ORDER BY pos) AS codes_csv
         FROM c GROUP BY vec_id ORDER BY vec_id"""),

    // brute-force cosine top-k (exact ANN baseline; SQL oracle via DuckDB
    // list_dot_product — both sides accumulate in double in index order)
    ContractQuery("q_ann_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.bruteForceTopK(emb, Ann.selfQueries(emb, 10), k = 5)
        .orderBy("query_id", "rank")
    },
      """WITH q AS (SELECT vec_id AS query_id,
             CAST(embedding AS DOUBLE[]) AS query_vec
           FROM embeddings WHERE vec_id < 10),
         scored AS (
           SELECT q.query_id, e.vec_id AS neighbor_id,
             round(list_dot_product(q.query_vec, CAST(e.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(q.query_vec, q.query_vec))
                  * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                          CAST(e.embedding AS DOUBLE[])))), 6)
               AS cosine
           FROM embeddings e, q WHERE e.vec_id <> q.query_id),
         ranked AS (
           SELECT query_id,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank,
             neighbor_id, cosine
           FROM scored)
         SELECT query_id, rank, neighbor_id, cosine FROM ranked
         WHERE rank <= 5 ORDER BY query_id, rank"""),

    // attribute-FILTERED vector search (the vector-DB "metadata filter"
    // mode): the label predicate lands in the parquet scan BEFORE any
    // scoring, so the broadcast-queries × corpus pass only touches the
    // matching slice — pre-filtering, not post-filter-and-refill
    ContractQuery("q_ann_filtered", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.bruteForceTopK(emb.filter(col("label") === 1),
          Ann.selfQueries(emb, 5), k = 5)
        .orderBy("query_id", "rank")
    },
      // pre-filtered corpus slice, otherwise the q_ann_topk shape
      """WITH q AS (SELECT vec_id AS query_id,
             CAST(embedding AS DOUBLE[]) AS query_vec
           FROM embeddings WHERE vec_id < 5),
         scored AS (
           SELECT q.query_id, e.vec_id AS neighbor_id,
             round(list_dot_product(q.query_vec, CAST(e.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(q.query_vec, q.query_vec))
                  * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                          CAST(e.embedding AS DOUBLE[])))), 6)
               AS cosine
           FROM embeddings e, q
           WHERE e.label = 1 AND e.vec_id <> q.query_id),
         ranked AS (
           SELECT query_id,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank,
             neighbor_id, cosine
           FROM scored)
         SELECT query_id, rank, neighbor_id, cosine FROM ranked
         WHERE rank <= 5 ORDER BY query_id, rank"""),

    // LSH-bucketed approximate top-k (scale path); the oracle recomputes
    // the buckets from the same plane literals, so the approximate result
    // is hash-checked end-to-end
    ContractQuery("q_ann_lsh", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.lshTopK(emb, Ann.selfQueries(emb, 10), k = 5, planes = 6)
        .orderBy("query_id", "rank")
    },
      // the LSH buckets recomputed in DuckDB from the same literal-embedded
      // hyperplanes (6 planes), then exact cosine top-k WITHIN each query's
      // bucket — a full two-sided twin of the approximate path (the
      // approximation is in WHICH candidates are scored, and the twin
      // reproduces the bucketing bit-exactly)
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings),
         b AS (SELECT vec_id, v, ${embBucketSql(6, 64)} AS bucket FROM e),
         q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b
               WHERE vec_id < 10),
         scored AS (
           SELECT q.query_id, c.vec_id AS neighbor_id,
             round(list_dot_product(q.qv, c.v)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
           FROM b c JOIN q ON c.bucket = q.bucket AND c.vec_id <> q.query_id),
         ranked AS (
           SELECT query_id,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank,
             neighbor_id, cosine
           FROM scored)
         SELECT query_id, rank, neighbor_id, cosine FROM ranked
         WHERE rank <= 5 ORDER BY query_id, rank"""),

    // IVF approximate top-k (k-means lists; second ANN scale path) —
    // training is bit-deterministic (ordered fold), so the oracle twins
    // the entire algorithm including the Lloyd iteration
    ContractQuery("q_ann_ivf", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = graft.similarity.Ivf.train(emb, k = 8, iters = 1)
      graft.similarity.Ivf.ivfTopK(emb, Ann.selfQueries(emb, 10), cents,
          k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    },
      // FULL twin of the IVF path — seeds, one deterministic Lloyd
      // iteration (per-dimension sums folded in vec_id order, cast FLOAT,
      // exactly like Ivf.train's secondary-sort fold), corpus re-assignment,
      // nprobe=2 probe selection, and exact cosine top-k over the probed
      // lists. Possible only because training is bit-deterministic.
      ivfFullTwin(10)),

    // IVF probe against the centroid-partitioned store: same algorithm as
    // q_ann_ivf (parameterized full twin), but the corpus is written hive-
    // partitioned by centroid_id and the probe reads ONLY the probed
    // inverted-list directories. 2 queries × nprobe 2 probe AT MOST 4 of
    // the 8 lists, so the PartitionFilters evidence is a strict subset —
    // PLANS.md must show `pruned read: m of n` with m < n (PlanAudit
    // fails the audit otherwise).
    ContractQuery("q_ann_ivf_pruned", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = graft.similarity.Ivf.train(emb, k = 8, iters = 1)
      val store = scratch("ivf_store")
      graft.similarity.Ivf.writeAssignedStore(emb, cents, store)
      graft.similarity.Ivf.ivfTopKFromStore(store, Ann.selfQueries(emb, 2),
          cents, k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    },
      ivfFullTwin(2)),

    // incremental ANN maintenance: train IVF on the RESIDENT 80% only,
    // build its partitioned store, then APPEND the remaining 20% batch
    // assigned to the FROZEN centroids — no retrain, no list rewrite —
    // and probe the merged store. Assignment being a deterministic
    // per-row function of (vector, centroids), the merged store equals
    // a full rebuild of the union under the same centroids (IvfSpec
    // asserts store-level parity; the twin replays train-on-base +
    // assign-union exactly).
    ContractQuery("q_ann_incremental", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val base = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
      val batch = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
      val cents = graft.similarity.Ivf.train(base, k = 8, iters = 1)
      val store = scratch("ivf_incr_store")
      // overwrite-base then append-batch keeps the query idempotent
      // across re-runs while exercising the real append path
      graft.similarity.Ivf.writeAssignedStore(base, cents, store)
      graft.similarity.Ivf.appendToStore(batch, cents, store)
      graft.similarity.Ivf.ivfTopKFromStore(store, Ann.selfQueries(emb, 10),
          cents, k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    },
      // train on the 80% base, assign/probe the full union — the exact
      // semantics of append-to-frozen-store (see the query comment)
      (kmeansAssignBaseCtes("vec_id % 5 <> 0") + ivfProbeSuffix(10))),

    // FULLY-stored index serving: centroids AND inverted lists both live
    // as parquet (train nightly, probe from disk — nothing of the index
    // held in memory between jobs). Centroid vectors are FLOAT columns,
    // which parquet round-trips bit-exactly, and assignment/probe are
    // deterministic functions of (vector, centroids) — so the stored-
    // index probe equals q_ann_ivf's in-memory result and SHARES its
    // full k-means-replay twin (the q_kn_score_stored oracle trade)
    ContractQuery("q_ann_stored_index", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = graft.similarity.Ivf.train(emb, k = 8, iters = 1)
      val centsPath = scratch("ivf_cents")
      val store = scratch("ivf_full_store")
      graft.sources.Sinks.writeParquet(cents, centsPath)
      graft.similarity.Ivf.writeAssignedStore(emb, cents, store)
      val storedCents = s.read.parquet(centsPath)
      graft.similarity.Ivf.ivfTopKFromStore(store, Ann.selfQueries(emb, 10),
          storedCents, k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    },
      // fully-stored index (centroids + lists both from parquet): FLOAT
      // columns round-trip bit-exactly, so the probe result — and the
      // twin — are q_ann_ivf's verbatim
      ivfFullTwin(10)),

    // VERSIONED REINDEX — the swap step the drift gate demands, run as
    // the scheduled (nightly) retrain: v=1 trains on the resident 80%
    // and the 20% batch appends to v=1's lists under the frozen
    // centroids; the retrain then reads THE STORE'S OWN ROWS (resident
    // + appended = the full corpus, in whatever order the store holds
    // them — training is a bit-deterministic pure function of content)
    // and writes a complete v=2 while v=1 stays intact; the probe
    // resolves the newest version. Probing v=2 therefore equals
    // training on the full table directly, so the twin is q_ann_ivf's
    // full k-means twin VERBATIM. The conditional (drift-gated) branch
    // of the same loop is IvfSpec-driven and 30x/100x-stressed.
    ContractQuery("q_ann_reindex", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val root = scratch("ivf_versioned")
      org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(root), true)
      val resident = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
      val batch = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
      val v1 = graft.similarity.Ivf.writeVersionedIndex(resident, k = 8, root)
      val cents = s.read.parquet(s"$root/v=$v1/centroids")
      graft.similarity.Ivf.writeBatchToStore(batch, cents,
        s"$root/v=$v1/store", 0L)
      val corpus = s.read.parquet(s"$root/v=$v1/store")
        .select(col("vec_id"), col("embedding"))
      val v2 = graft.similarity.Ivf.writeVersionedIndex(corpus, k = 8, root)
      require(v2 == v1 + 1, s"retrain must write the next version: $v1 -> $v2")
      graft.similarity.Ivf.ivfTopKFromVersioned(s, root,
          Ann.selfQueries(emb, 10), k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    },
      // versioned reindex: v=2 retrains on the store's own rows = the
      // full corpus (training is content-deterministic), so the newest-
      // version probe is q_ann_ivf's full twin verbatim
      ivfFullTwin(10)),

    // version RETENTION (the maintenance half the lifecycle was missing,
    // VERDICT r10 #2): publish v=1 on the resident 80%, v=2 on the full
    // corpus, then vacuum with keepN=1 — the in-line requires prove
    // exactly v=1 was deleted, only v=2's directory survives, and the
    // manifest still resolves it. The probe of the surviving version is
    // a full-corpus train+probe, so the twin is q_ann_ivf's VERBATIM —
    // vacuum must be invisible to serving
    ContractQuery("q_ann_vacuum", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val root = scratch("ivf_vacuum")
      org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(root), true)
      val resident = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
      val v1 = graft.similarity.Ivf.writeVersionedIndex(resident, k = 8, root)
      val v2 = graft.similarity.Ivf.writeVersionedIndex(
        emb.select(col("vec_id"), col("embedding")), k = 8, root)
      val deleted = graft.similarity.Ivf.vacuumVersions(s, root, keepN = 1)
      require(deleted == Seq(v1),
        s"vacuum keepN=1 must retire exactly v=$v1: got $deleted")
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(root))
        .map(_.getPath.getName).filter(_.startsWith("v=")).sorted.toSeq
      require(dirs == Seq(s"v=$v2"),
        s"only the newest version directory may survive: $dirs")
      require(graft.similarity.Ivf.indexVersion(s, root) == v2,
        "the manifest must still resolve the surviving version")
      // TIME retention (VERDICT r11 #4): v3 committed seconds ago, so a
      // production age horizon refuses to retire the superseded v2 even
      // below the keepN floor — a publish burst can never strand an
      // in-flight prober; dropping the horizon retires it as before.
      // v3 trains on the same full corpus, so the probe is unchanged.
      val v3 = graft.similarity.Ivf.writeVersionedIndex(
        emb.select(col("vec_id"), col("embedding")), k = 8, root)
      require(graft.similarity.Ivf.vacuumVersions(s, root, keepN = 1,
          minAgeMs = 3600L * 1000L) == Seq.empty,
        "an age horizon must keep versions younger than it")
      require(graft.similarity.Ivf.vacuumVersions(s, root, keepN = 1)
          == Seq(v2),
        "without the horizon the superseded version retires")
      require(graft.similarity.Ivf.indexVersion(s, root) == v3,
        "the manifest must resolve the newest version after the burst")
      graft.similarity.Ivf.ivfTopKFromVersioned(s, root,
          Ann.selfQueries(emb, 10), k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    },
      // vacuum retires old versions without touching the survivor: the
      // newest version trained on the full corpus, so its probe is
      // q_ann_ivf's full twin verbatim (retention proofs are in-query
      // requires)
      ivfFullTwin(10)),

    // COMPACTION AS A VERSION PUBLISH (VERDICT r10 #1's swap shape):
    // the resident 80% is v=1's base layer, the 20% batch lands as a
    // streamed-style ingest layer, then compactVersion folds both into
    // v=2 — SAME centroids, single base layer — committed through the
    // identical one-object manifest protocol as a retrain. The requires
    // prove the version advanced and the file count shrank; the probe
    // of the compacted version carries the same rows under the same
    // centroids, so the twin is q_ann_incremental's VERBATIM
    ContractQuery("q_ann_compact_version", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val root = scratch("ivf_compactv")
      org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(root), true)
      val resident = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
      val batch = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
      val v1 = graft.similarity.Ivf.writeVersionedIndex(resident, k = 8, root)
      val cents = s.read.parquet(s"$root/v=$v1/centroids")
      graft.similarity.Ivf.writeBatchToStore(batch, cents,
        s"$root/v=$v1/store", 0L)
      val (v2, before, after) = graft.similarity.Ivf.compactVersion(s, root)
      require(v2 == v1 + 1,
        s"compaction must publish the next version: $v1 -> $v2")
      require(after < before,
        s"compaction must shrink the store: $before -> $after files")
      graft.similarity.Ivf.ivfTopKFromVersioned(s, root,
          Ann.selfQueries(emb, 10), k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    },
      // compaction-as-a-version: same rows, same (resident-trained)
      // centroids, single folded layer — probe semantics are exactly the
      // frozen-centroid append, so the twin is q_ann_incremental's
      (kmeansAssignBaseCtes("vec_id % 5 <> 0") + ivfProbeSuffix(10))),

    // RECALL-DRIFT audit of the frozen-centroid append path — the time
    // axis of index staleness: centroids train once on the resident 80%,
    // then recall@5 of the frozen IVF probe vs exact brute force is
    // measured over the growing corpus (stage 0 = resident, 1 = +half
    // the appended batch, 2 = +all of it). Everything downstream of the
    // bit-deterministic trainer is deterministic, so the whole curve is
    // hash-checked by a 3-stage UNION ALL twin. The retrain gate
    // (Ivf.requireFreshIndex) runs IN-LINE over the persisted audit; on
    // this un-shifted corpus it passes with margin — the trigger FIRING
    // is proven on a deliberately shifted batch in IvfSpec and SCALE.md
    ContractQuery("q_ann_drift", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val resident = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
      val w1 = emb.filter(pmod(col("vec_id"), lit(10)) === 0)
      val w2 = emb.filter(pmod(col("vec_id"), lit(10)) === 5)
      val drift = graft.similarity.Ivf.recallDrift(resident, Seq(w1, w2),
          Ann.selfQueries(emb, 10), k = 5, nprobe = 2)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // a tripped gate must not leak the cached audit (the knnGraphAuto
      // unpersist-before-throw rule); on success the cache backs the
      // returned frame and the sweep's per-query cleanup reclaims it
      try graft.similarity.Ivf.requireFreshIndex(drift, k = 5, floor = 0.2)
      catch { case t: Throwable =>
        drift.unpersist(blocking = false); throw t
      }
      drift.orderBy("stage", "query_id")
    },
      // recall-drift audit: three complete train-on-resident →
      // assign-stage-corpus → probe → recall stage replays, UNION ALL'd
      annDriftTwin),

    // BOUNDED-COST drift audit (VERDICT r10 #4): the same recall@5
    // health measurement as q_ann_drift, but exact ground truth and the
    // frozen probe BOTH restricted to the hash-selected 50% of the
    // store (Profile.hashSplit's bucket idiom — the sample is a pure
    // function of vec_id, so the DuckDB twin re-derives the identical
    // sample). This is the knob that keeps the audit affordable at an
    // always-on cadence: brute-force cost scales by samplePct while the
    // estimator stays unbiased. The in-line gate proves the sampled
    // audit DRIVES the same reindex decision (version unchanged on this
    // healthy corpus); the hash-checked result is the per-query sampled
    // recall curve
    ContractQuery("q_ann_drift_sampled", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val root = scratch("ivf_drift_sampled")
      org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(root), true)
      val v1 = graft.similarity.Ivf.writeVersionedIndex(
        emb.select(col("vec_id"), col("embedding")), k = 8, root)
      val (vKept, _) = graft.similarity.Ivf.reindexIfDriftedSampled(
        s, root, Ann.selfQueries(emb, 10), k = 5, nprobe = 2,
        floor = 0.2, samplePct = 50, kCents = 8)
      require(vKept == v1,
        "a healthy sampled audit must not advance the version")
      graft.similarity.Ivf.sampledAudit(s, root, Ann.selfQueries(emb, 10),
          k = 5, nprobe = 2, samplePct = 50)
        .select(lit(0).as("stage"), col("*"))
        .orderBy("query_id")
    },
      // sampled audit: ONE stage block — train on everything (the stored
      // v=1 centroids), exact + frozen probe both restricted to the
      // hash-derived 50% sample (the identical two-limb Knuth bucket)
      (annDriftStageSql(0, s"(${hash32Sql("vec_id")}) % 100 < 50", "TRUE") +
        "\n         ORDER BY query_id")),

    // THE PQ SERVING STACK ON THE VERSIONED LIFECYCLE (VERDICT r11 #2):
    // v=1 publishes the full IVFADC triple (centroids + codebooks +
    // centroid-partitioned code store) on the resident 80%; the 20%
    // batch streams in — raw rows AND their PQ codes under ingest=b0 —
    // and the drift retrain republishes the WHOLE triple (fresh
    // centroids AND fresh codebooks under the stored _pq spec, fixing
    // the stale-codebook half the raw-store lifecycle missed) as v=2,
    // trained on the store's own rows = the full corpus. Training,
    // encoding and ADC are all content-deterministic, so the
    // newest-version disk probe equals q_ann_ivfpq over the full table
    // and SHARES its twin verbatim.
    ContractQuery("q_ann_pq_versioned", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val root = scratch("ivf_pq_versioned")
      org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(root), true)
      val resident = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
      val batch = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
      val spec = graft.similarity.PqSpec(m = 4, k = 8)
      val v1 = graft.similarity.Ivf.writeVersionedIndex(
        resident.select(col("vec_id"), col("embedding")), k = 8, root,
        pq = Some(spec))
      val cents = graft.similarity.Ivf.localizeCentroids(
        s.read.parquet(s"$root/v=$v1/centroids"))
      graft.similarity.Ivf.writeBatchToVersion(s, root, v1,
        batch.select(col("vec_id"), col("embedding")), 0L, cents)
      val v2 = graft.similarity.Ivf.retrainFromStore(s, root, kCents = 8)
      require(v2 == v1 + 1, s"the retrain must publish v=${v1 + 1}: got $v2")
      require(graft.similarity.Ivf.readPqSpec(s, root, v2) == Some(spec),
        "the retrained version must carry the PQ spec forward")
      graft.similarity.Ivf.ivfAdcTopKFromVersioned(s, root,
          Ann.selfQueries(emb, 10), k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    },
      // versioned IVFADC triple: v=2's retrain rebuilt centroids,
      // codebooks AND codes on the store's full content = the full
      // corpus, so the disk probe is q_ann_ivfpq's twin verbatim
      ivfPqTwin(m = 4, sub = 16, k = 8,
      nQueries = 10, topk = 5, nprobe = 2)),

    // TWO-WRITER PUBLISH RACE (VERDICT r11 #1), driven in-query: writer
    // B stages a complete v=2 build against committed v=1; writer A
    // publishes v=2 first. B's promote REFUSES with the conditional
    // commit (never last-write-wins), its staging is cleaned, A's
    // publish survives untouched, and B's retry re-resolves the
    // manifest and lands v=3 — trained on the full corpus, so the
    // newest-version probe shares q_ann_ivf's full twin verbatim.
    ContractQuery("q_ann_commit_race", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val root = scratch("ivf_commit_race")
      val fs = org.apache.hadoop.fs.FileSystem
        .get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val resident = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
      val full = emb.select(col("vec_id"), col("embedding"))
      val v1 = graft.similarity.Ivf.writeVersionedIndex(resident, k = 8, root)
      val stagingB = s"$root/.build-v=${v1 + 1}-raceB"
      graft.similarity.Ivf.buildVersionDirAt(full, k = 8, stagingB)
      val v2 = graft.similarity.Ivf.writeVersionedIndex(full, k = 8, root)
      require(v2 == v1 + 1, s"writer A must win v=${v1 + 1}: got $v2")
      val refused =
        try {
          graft.similarity.Ivf.promoteAndCommit(s, root, v2, stagingB)
          false
        } catch {
          case _: graft.similarity.ConcurrentPublishException => true
        }
      require(refused, "the losing writer must refuse, not clobber")
      require(!fs.exists(new org.apache.hadoop.fs.Path(stagingB)),
        "the loser's staging must be cleaned up")
      require(graft.similarity.Ivf.indexVersion(s, root) == v2,
        "the winner's publish must survive the lost race")
      val v3 = graft.similarity.Ivf.writeVersionedIndex(full, k = 8, root)
      require(v3 == v2 + 1, s"the retry must converge on v=${v2 + 1}: got $v3")
      graft.similarity.Ivf.ivfTopKFromVersioned(s, root,
          Ann.selfQueries(emb, 10), k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    },
      // two-writer race: the surviving newest version is the retry's
      // full-corpus train, so the probe is q_ann_ivf's twin verbatim
      // (the refusal/cleanup/convergence proofs are in-query requires)
      ivfFullTwin(10)),

    // WORKLOAD-drift audit (VERDICT r11 #5): the serving side logs the
    // queries it answered (epoch-keyed, idempotent — logged twice here
    // to prove a replayed logger converges), and the audit REPLAYS the
    // log against the current version over the hash-sampled 50% store,
    // completing the drift triad (corpus = recall audit, space =
    // assignment confidence, workload = THIS). The logged set is
    // selfQueries(10) and the replay's deterministic selection returns
    // exactly it, so the twin is q_ann_drift_sampled's single-stage
    // sampled replay verbatim; the gate TRIPPING on a shifted query mix
    // over a still corpus is StreamingSpec-driven.
    ContractQuery("q_ann_workload", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val root = scratch("ivf_workload")
      org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(root), true)
      val _ = graft.similarity.Ivf.writeVersionedIndex(
        emb.select(col("vec_id"), col("embedding")), k = 8, root)
      val served = Ann.selfQueries(emb, 10)
      graft.similarity.Ivf.logQueries(s, root, served, epoch = 0L)
      graft.similarity.Ivf.logQueries(s, root, served, epoch = 0L)
      require(s.read.parquet(s"$root/_query_log").count() == 10,
        "a replayed log epoch must overwrite, never duplicate")
      // LOG RETENTION: the serving side re-logs the same workload as a
      // newer epoch; vacuuming to the newest epoch retires epoch 0
      // without changing the replay (newest-wins already resolved the
      // same vectors) — the log can never grow one epoch per cadence
      // forever
      graft.similarity.Ivf.logQueries(s, root, served, epoch = 1L)
      require(graft.similarity.Ivf.vacuumQueryLog(s, root, keepEpochs = 1)
          == Seq(0L),
        "log vacuum must retire exactly the superseded epoch")
      require(s.read.parquet(s"$root/_query_log").count() == 10,
        "the kept epoch must survive the log vacuum whole")
      graft.similarity.Ivf.workloadAudit(s, root, k = 5, nprobe = 2,
          samplePct = 50, nQueries = 10)
        .select(lit(0).as("stage"), col("*"))
        .orderBy("query_id")
    },
      // workload audit: the replayed log IS selfQueries(10) (the
      // newest-epoch-first deterministic selection returns the whole
      // single-epoch log), over the same hash-sampled 50% store — the
      // sampled single-stage replay verbatim
      (annDriftStageSql(0, s"(${hash32Sql("vec_id")}) % 100 < 50", "TRUE") +
        "\n         ORDER BY query_id")),

    // product quantization (Jégou et al. 2011): m=4 subspace codebooks of
    // k=8 via the bit-deterministic Lloyd fold, one-byte codes, ADC top-k
    // — the compressed ANN path (64x store shrink at 100 TB); the oracle
    // twins training, encoding AND the ADC ranking
    ContractQuery("q_ann_pq", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cbs = graft.similarity.Pq.trainCodebooks(emb, m = 4, k = 8,
        dim = 64, iters = 1)
      val codes = graft.similarity.Pq.encode(emb, cbs)
      graft.similarity.Pq.adcTopK(codes, Ann.selfQueries(emb, 10), cbs, k = 5)
        .orderBy("query_id", "rank")
    },
      pqFullTwin(m = 4, sub = 16, k = 8, nQueries = 10,
      topk = 5)),

    // recall@5 of the compressed (PQ/ADC) search vs exact full-precision
    // cosine — the quality gauge that tells you whether m=4 codebooks are
    // enough before you shrink the 100 TB store 64x
    ContractQuery("q_pq_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cbs = graft.similarity.Pq.trainCodebooks(emb, m = 4, k = 8,
        dim = 64, iters = 1)
      val codes = graft.similarity.Pq.encode(emb, cbs)
      val qs = Ann.selfQueries(emb, 10)
      val approx = graft.similarity.Pq.adcTopK(codes, qs, cbs, k = 5)
      Ann.recallAtK(Ann.bruteForceTopK(emb, qs, k = 5), approx, qs, k = 5)
        .orderBy("query_id")
    },
      // the same PQ chain ranked by ADC, intersected with exact cosine
      pqRecallTwin(m = 4, sub = 16, k = 8, nQueries = 10,
      topk = 5)),

    // IVFADC (Jégou et al. 2011 §IV): IVF probe pruning composed with PQ
    // ADC ranking — the billion-vector search shape: nprobe/k of the
    // lists scanned, m bytes per candidate instead of d floats; both
    // training stages bit-deterministic, so the oracle twins the ENTIRE
    // path (k-means, codebooks, probe selection, ADC ranking)
    ContractQuery("q_ann_ivfpq", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = graft.similarity.Ivf.train(emb, k = 8, iters = 1)
      val cbs = graft.similarity.Pq.trainCodebooks(emb, m = 4, k = 8,
        dim = 64, iters = 1)
      graft.similarity.Pq.ivfAdcTopK(emb, Ann.selfQueries(emb, 10), cents,
          cbs, k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    },
      // full PQ twin: per-subspace deterministic k-means + codes + ADC
      ivfPqTwin(m = 4, sub = 16, k = 8, nQueries = 10,
      topk = 5, nprobe = 2)),

    // STORED-PQ serving — the last third of the stored triple (centroids
    // and inverted lists already serve from parquet in
    // q_ann_stored_index): codebooks (m·k float rows) and the PQ code
    // table (m small ints per vector instead of d floats — the
    // memory-compressed layout a 100 TB corpus actually serves from,
    // centroid-partitioned for probe pruning) are written as parquet and
    // IVFADC probes ENTIRELY from disk. Integer codes and float
    // codebooks/centroids are parquet-exact, so the disk probe equals
    // q_ann_ivfpq bit-for-bit and SHARES its full twin (training,
    // encoding, probe selection, ADC)
    ContractQuery("q_ann_stored_pq", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = graft.similarity.Ivf.train(emb, k = 8, iters = 1)
      val cbs = graft.similarity.Pq.trainCodebooks(emb, m = 4, k = 8,
        dim = 64, iters = 1)
      val centsPath = scratch("pq_cents")
      val cbPath = scratch("pq_codebooks")
      val store = scratch("pq_code_store")
      graft.sources.Sinks.writeParquet(cents, centsPath)
      graft.similarity.Pq.writeCodebooks(s, cbs, cbPath)
      graft.similarity.Pq.writeIvfAdcStore(emb, cents, cbs, store)
      graft.similarity.Pq.ivfAdcTopKFromStore(store,
          Ann.selfQueries(emb, 10), s.read.parquet(centsPath),
          graft.similarity.Pq.readCodebooks(s, cbPath), k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    },
      // stored-PQ serving: integer codes and float codebooks/centroids are
      // parquet-exact, so the disk probe equals q_ann_ivfpq bit-for-bit
      // and the twin is shared verbatim (the q_ann_stored_index trade)
      ivfPqTwin(m = 4, sub = 16, k = 8, nQueries = 10,
      topk = 5, nprobe = 2)),

    // per-label mean embeddings (class prototypes) via the deterministic
    // secondary-sort ordered fold (Ivf.train's discipline) — exploded to
    // (label, pos, mval) FLOAT rows for the comparator, each component
    // bit-exact against the twin's identical ordered fold
    ContractQuery("q_mean_pool", (s, dir) =>
      graft.similarity.Pooling.meanByGroup(t(s, dir, "embeddings"),
          "label", "embedding", "vec_id")
        .select(col("group_id").cast(LongType).as("label"),
          posexplode(col("mean_vec")).as(Seq("pos", "mval")))
        .select(col("label"), (col("pos") + 1).cast(LongType).as("pos"),
          col("mval"))
        .orderBy("label", "pos"),
      // the identical ordered fold: per (label, dim), doubles summed in
      // vec_id order, /n, cast FLOAT (the m1 pattern of the k-means twin)
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings),
         vals AS (SELECT label, t.i AS pos, e.v[t.i] AS val, e.vec_id
           FROM e, unnest(generate_series(1, 64)) AS t(i)),
         m AS (SELECT label, pos,
             CAST(list_reduce(list(val ORDER BY vec_id), (a, b) -> a + b)
               / count(*) AS FLOAT) AS mval
           FROM vals GROUP BY 1, 2)
         SELECT CAST(label AS BIGINT) AS label, CAST(pos AS BIGINT) AS pos,
           mval
         FROM m ORDER BY label, pos"""),

    // prototype (nearest-class-mean) classification accuracy: assign
    // each embedding to the nearest label prototype and score per true
    // label — the 1-NN-to-centroid eval that tells whether labels are
    // linearly separable in embedding space. Exact counts, one quotient.
    ContractQuery("q_prototype_accuracy", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val protos = graft.similarity.Pooling.meanByGroup(emb, "label",
          "embedding", "vec_id")
        .select(col("group_id").as("centroid_id"),
          col("mean_vec").as("centroid"))
      val assigned = graft.similarity.Ivf.assign(emb, protos)
        .select(col("vec_id"), col("centroid_id").as("pred"))
      emb.select(col("vec_id"), col("label")).join(assigned, "vec_id")
        .groupBy(col("label").cast(LongType).as("label"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("pred").cast(LongType) === col("label"), 1L)
            .otherwise(0L)).as("n_correct"))
        .withColumn("accuracy",
          col("n_correct").cast(DoubleType) / col("n").cast(DoubleType))
        .orderBy("label")
    },
      // prototype fold + the a1-style argmax assignment + exact accuracy
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings),
         vals AS (SELECT label, t.i AS pos, e.v[t.i] AS val, e.vec_id
           FROM e, unnest(generate_series(1, 64)) AS t(i)),
         m AS (SELECT label, pos,
             CAST(list_reduce(list(val ORDER BY vec_id), (a, b) -> a + b)
               / count(*) AS FLOAT) AS mval
           FROM vals GROUP BY 1, 2),
         p AS (SELECT label AS cid, list(CAST(mval AS DOUBLE) ORDER BY pos)
             AS cv
           FROM m GROUP BY label),
         asg AS (SELECT vec_id, label, cid AS pred FROM (
             SELECT e.vec_id, e.label, p.cid,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 (list_dot_product(e.v, p.cv)
                  / (sqrt(list_dot_product(e.v, e.v))
                     * sqrt(list_dot_product(p.cv, p.cv)))) DESC,
                 p.cid ASC) AS rn
             FROM e CROSS JOIN p) WHERE rn = 1)
         SELECT CAST(label AS BIGINT) AS label,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN pred = label THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           CAST(sum(CASE WHEN pred = label THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS accuracy
         FROM asg GROUP BY 1 ORDER BY 1"""),

    // per-label embedding drift between corpus halves: cosine between
    // the two halves' prototypes (deterministic folds → deterministic
    // cosine → the < gate is engine-independent)
    ContractQuery("q_embed_drift", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      def half(m: Int) = graft.similarity.Pooling.meanByGroup(
        emb.filter(col("vec_id") % 2 === m), "label", "embedding", "vec_id")
      val a = half(0).select(col("group_id").as("label"),
        col("mean_vec").as("va"))
      val b = half(1).select(col("group_id").as("label"),
        col("mean_vec").as("vb"))
      a.join(b, "label")
        .select(col("label").cast(LongType).as("label"),
          native.vec_cosine(col("va"), col("vb")).as("proto_cos"))
        .withColumn("drifted", col("proto_cos") < 0.99)
        .orderBy("label")
    },
      // two half-corpus folds + one cosine per label
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings),
         vals AS (SELECT e.vec_id % 2 AS half, label, t.i AS pos,
             e.v[t.i] AS val, e.vec_id
           FROM e, unnest(generate_series(1, 64)) AS t(i)),
         m AS (SELECT half, label, pos,
             CAST(list_reduce(list(val ORDER BY vec_id), (a, b) -> a + b)
               / count(*) AS FLOAT) AS mval
           FROM vals GROUP BY 1, 2, 3),
         pa AS (SELECT label, list(CAST(mval AS DOUBLE) ORDER BY pos) AS va
           FROM m WHERE half = 0 GROUP BY label),
         pb AS (SELECT label, list(CAST(mval AS DOUBLE) ORDER BY pos) AS vb
           FROM m WHERE half = 1 GROUP BY label)
         SELECT CAST(label AS BIGINT) AS label,
           list_dot_product(va, vb)
             / (sqrt(list_dot_product(va, va))
                * sqrt(list_dot_product(vb, vb))) AS proto_cos,
           (list_dot_product(va, vb)
             / (sqrt(list_dot_product(va, va))
                * sqrt(list_dot_product(vb, vb)))) < CAST(0.99 AS DOUBLE)
             AS drifted
         FROM pa JOIN pb USING (label) ORDER BY label"""),

    // semantic benchmark decontamination: corpus vectors within cosine
    // 0.95 of ANY benchmark vector (vec_id < 10, broadcast) are flagged
    // — the embedding-space complement of the n-gram decontaminator
    ContractQuery("q_semantic_decontaminate", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val bench = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("bench_id"),
          col("embedding").as("bench_vec"))
      emb.filter(col("vec_id") >= 10)
        .crossJoin(broadcast(bench))
        .select(col("vec_id"),
          native.vec_cosine(col("embedding"), col("bench_vec")).as("cos"))
        .groupBy("vec_id")
        .agg(max(col("cos")).as("max_cos"))
        .withColumn("contaminated", col("max_cos") >= 0.95)
        .orderBy("vec_id")
    },
      // exact max-cosine against the broadcast benchmark set; max over
      // doubles is order-independent
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings),
         b AS (SELECT vec_id AS bench_id, v AS bv FROM e
           WHERE vec_id < 10),
         s AS (SELECT e.vec_id,
             max(list_dot_product(e.v, b.bv)
               / (sqrt(list_dot_product(e.v, e.v))
                  * sqrt(list_dot_product(b.bv, b.bv)))) AS max_cos
           FROM e CROSS JOIN b WHERE e.vec_id >= 10
           GROUP BY e.vec_id)
         SELECT vec_id, max_cos, max_cos >= CAST(0.95 AS DOUBLE)
           AS contaminated
         FROM s ORDER BY vec_id"""),

    // per-query reciprocal rank of the LSH list vs the exact top-5 (the
    // metric behind MRR) — 1/first-hit-rank, one exact division per row
    ContractQuery("q_mrr", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = Ann.selfQueries(emb, 10)
      val exact = Ann.bruteForceTopK(emb, qs, k = 5)
      val approx = Ann.lshTopK(emb, qs, k = 5, planes = 6)
      Ann.reciprocalRank(exact, approx, qs).orderBy("query_id")
    },
      // q_ann_recall's exact/approx lists, keeping the approx rank;
      // first_rank = min approx rank that is a true neighbor
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
          b AS (SELECT vec_id, v, ${embBucketSql(6, 64)} AS bucket FROM e),
          q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b
                WHERE vec_id < 10),
          ex AS (
            SELECT query_id, neighbor_id FROM (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                row_number() OVER (PARTITION BY q.query_id ORDER BY
                  round(list_dot_product(q.qv, e.v)
                    / (sqrt(list_dot_product(q.qv, q.qv))
                       * sqrt(list_dot_product(e.v, e.v))), 6) DESC,
                  e.vec_id ASC) AS rn
              FROM e JOIN q ON e.vec_id <> q.query_id) WHERE rn <= 5),
          ap AS (
            SELECT query_id, neighbor_id, rn FROM (
              SELECT q.query_id, c.vec_id AS neighbor_id,
                row_number() OVER (PARTITION BY q.query_id ORDER BY
                  round(list_dot_product(q.qv, c.v)
                    / (sqrt(list_dot_product(q.qv, q.qv))
                       * sqrt(list_dot_product(c.v, c.v))), 6) DESC,
                  c.vec_id ASC) AS rn
              FROM b c JOIN q ON c.bucket = q.bucket
                AND c.vec_id <> q.query_id) WHERE rn <= 5),
          fh AS (SELECT ap.query_id, min(ap.rn) AS first_rank
                 FROM ap JOIN ex ON ex.query_id = ap.query_id
                   AND ex.neighbor_id = ap.neighbor_id
                 GROUP BY ap.query_id)
          SELECT q.query_id,
            CAST(coalesce(fh.first_rank, 0) AS BIGINT) AS first_rank,
            CASE WHEN fh.first_rank IS NULL THEN 0.0
                 ELSE CAST(1.0 AS DOUBLE)
                      / CAST(fh.first_rank AS DOUBLE) END AS rr
          FROM q LEFT JOIN fh ON q.query_id = fh.query_id
          ORDER BY q.query_id"""),

    // nDCG@5 of the LSH index vs exact ranking — the graded retrieval
    // metric (recall counts hits, MRR the first hit; nDCG rewards
    // putting the BEST neighbors highest). log2 discounts ride both
    // plans as shared literals (libm log2 isn't correctly rounded);
    // the per-query DCG is an ordered fold over <= 5 collected ranks
    ContractQuery("q_ann_ndcg", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = Ann.selfQueries(emb, 10)
      val exact = Ann.bruteForceTopK(emb, qs, k = 5)
      val approx = Ann.lshTopK(emb, qs, k = 5, planes = 6)
      Ann.ndcgAtK(exact, approx, qs, k = 5)
        .select(col("query_id"), round(col("dcg"), 6).as("dcg"),
          round(col("ndcg"), 6).as("ndcg"))
        .orderBy("query_id")
    },
      // nDCG twin: the same e/b/q/ex/ap ranking CTEs as q_mrr (exact rank
      // kept), relevance 6−exact_rank, discount weights and the ideal DCG
      // embedded as the ENGINE's doubles (Double.toString round-trips), the
      // per-query DCG as a rank-ordered list_reduce fold
      {
      val w = graft.similarity.Ann.discountWeights(5)
        .map(d => s"CAST('$d' AS DOUBLE)").mkString("[", ", ", "]")
      val idcg = s"CAST('${graft.similarity.Ann.idealDcg(5)}' AS DOUBLE)"
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
          b AS (SELECT vec_id, v, ${embBucketSql(6, 64)} AS bucket FROM e),
          q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b
                WHERE vec_id < 10),
          ex AS (
            SELECT query_id, neighbor_id, rn FROM (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                row_number() OVER (PARTITION BY q.query_id ORDER BY
                  round(list_dot_product(q.qv, e.v)
                    / (sqrt(list_dot_product(q.qv, q.qv))
                       * sqrt(list_dot_product(e.v, e.v))), 6) DESC,
                  e.vec_id ASC) AS rn
              FROM e JOIN q ON e.vec_id <> q.query_id) WHERE rn <= 5),
          ap AS (
            SELECT query_id, neighbor_id, rn FROM (
              SELECT q.query_id, c.vec_id AS neighbor_id,
                row_number() OVER (PARTITION BY q.query_id ORDER BY
                  round(list_dot_product(q.qv, c.v)
                    / (sqrt(list_dot_product(q.qv, q.qv))
                       * sqrt(list_dot_product(c.v, c.v))), 6) DESC,
                  c.vec_id ASC) AS rn
              FROM b c JOIN q ON c.bucket = q.bucket
                AND c.vec_id <> q.query_id) WHERE rn <= 5),
          rel AS (
            SELECT ap.query_id, ap.rn AS rank,
              CAST(coalesce(6 - ex.rn, 0) AS DOUBLE)
                * list_extract($w, ap.rn) AS g
            FROM ap LEFT JOIN ex ON ex.query_id = ap.query_id
              AND ex.neighbor_id = ap.neighbor_id),
          d AS (
            SELECT query_id,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list(g ORDER BY rank)), (a, b) -> a + b) AS dcg
            FROM rel GROUP BY query_id)
          SELECT q.query_id,
            round(coalesce(d.dcg, CAST(0.0 AS DOUBLE)), 6) AS dcg,
            round(coalesce(d.dcg, CAST(0.0 AS DOUBLE)) / $idcg, 6) AS ndcg
          FROM q LEFT JOIN d ON q.query_id = d.query_id
          ORDER BY q.query_id"""
    }),

    // hybrid retrieval: BM25 top-50 fused with cosine-ANN top-50 by
    // reciprocal-rank fusion (k=60) — the heavy work is the two bounded
    // upstream top-k operators; the fuse joins two <=50-row lists. The
    // rank window below runs AFTER bm25's sort+limit, so it orders <= 50
    // rows — bounded by construction, not a data-sized global window.
    ContractQuery("q_rrf_hybrid", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val lex = graft.functions.Text.bm25(t(s, dir, "documents"), topk = 50)
        .withColumn("lex_rank", row_number().over(
          Window.orderBy(col("bm25").desc, col("doc_id").asc)).cast(LongType))
        .select("doc_id", "lex_rank")
      val q0 = emb.filter(col("vec_id") === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val vec = Ann.bruteForceTopK(emb, q0, k = 50)
        .select(col("neighbor_id").as("doc_id"), col("rank").as("vec_rank"))
      Ann.rrfFuse(lex, vec, kRrf = 60, topk = 20)
    },
      // same BM25 CTE chain at top-50, cosine list for query vec 0 at
      // top-50, then the identical one-expression RRF fuse (k=60)
      """WITH toks AS (SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), x -> x <> ''))
               AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
                GROUP BY doc_id, term),
         dl AS (SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
               AS BIGINT) AS dl
           FROM documents),
         stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
         dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         qt AS (SELECT term FROM (
             SELECT term, sum(tf) AS total FROM tf GROUP BY term
             ORDER BY total DESC, term ASC LIMIT 2)),
         contrib AS (
           SELECT tf.doc_id,
             ln(1.0 + (CAST(s.n_docs AS DOUBLE) - d.df + 0.5)
                      / (d.df + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 *
                   (CAST(dl.dl AS DOUBLE)
                    / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))) AS c
           FROM tf JOIN qt USING (term) JOIN dfc d USING (term)
             JOIN dl USING (doc_id) CROSS JOIN stats s),
         bm AS (SELECT doc_id, round(sum(c), 6) AS bm25
           FROM contrib GROUP BY doc_id
           ORDER BY bm25 DESC, doc_id ASC LIMIT 50),
         lexr AS (SELECT doc_id,
             CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC)
               AS BIGINT) AS lex_rank
           FROM bm),
         q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id = 0),
         vscored AS (SELECT e.vec_id AS doc_id,
             round(list_dot_product(q.qv, CAST(e.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                          CAST(e.embedding AS DOUBLE[])))), 6)
               AS cosine
           FROM embeddings e, q WHERE e.vec_id <> 0),
         vecr AS (SELECT doc_id, vec_rank FROM (
             SELECT doc_id,
               CAST(row_number() OVER (ORDER BY cosine DESC, doc_id ASC)
                 AS BIGINT) AS vec_rank
             FROM vscored) WHERE vec_rank <= 50),
         fused AS (
           SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
             l.lex_rank, v.vec_rank,
             round(coalesce(CAST(1 AS DOUBLE) / (60 + l.lex_rank), 0.0)
                 + coalesce(CAST(1 AS DOUBLE) / (60 + v.vec_rank), 0.0), 6)
               AS rrf
           FROM lexr l FULL OUTER JOIN vecr v ON l.doc_id = v.doc_id)
         SELECT doc_id, lex_rank, vec_rank, rrf FROM fused
         ORDER BY rrf DESC, doc_id ASC LIMIT 20"""),

    // MMR diversity re-rank (Carbonell & Goldstein 1998) of the exact
    // top-30 for query 0: candidates and their 30x30 sim matrix are
    // bounded upstream top-k products (the distributed part); the greedy
    // selection runs over <= 30 driver rows. All cosines rounded to 6
    // decimals BEFORE selection so both engines pick from identical
    // values; the twin unrolls the 10 greedy rounds as chained CTEs.
    ContractQuery("q_mmr_rerank", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q0 = emb.filter(col("vec_id") === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val top = Ann.bruteForceTopK(emb, q0, k = 30)
        .select(col("neighbor_id").as("id"), col("cosine").as("rel"))
      val cvec = emb.join(top.select("id"),
          emb("vec_id") === top("id")).select(col("id"), col("embedding"))
      val sims = cvec.as("a")
        .crossJoin(broadcast(cvec.as("b")))
        .filter(col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          round(native.vec_cosine(col("a.embedding"), col("b.embedding")), 6)
            .as("sim"))
      Ann.mmrRerank(top, sims, k = 10).orderBy("rank")
    },
      // 10 unrolled greedy MMR rounds over the exact top-30 (see mmrTwin)
      mmrTwin(k = 10, n = 30)),

    // cluster-blocked k-NN graph (NN-Descent / HNSW seeding): exact top-3
    // within each trained coarse cell — O(sum c_i^2), never O(n^2); the
    // twin replays the bit-deterministic k-means prefix then ranks within
    // cells
    ContractQuery("q_knn_graph", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = graft.similarity.Ivf.train(emb, k = 8, iters = 1)
      graft.similarity.Ivf.knnGraph(emb, cents, k = 3)
        .orderBy("query_id", "rank")
    },
      // k-means prefix (bit-deterministic, shared with q_ann_ivf) then
      // exact cosine ranks WITHIN each a1 cell — the blocked k-NN graph
      knnGraphTwinSql),

    // budget-gated graph build (the q_dedup_autocap pattern for ANN):
    // cell count sized FROM the corpus (ceil(n/256), floor 8) and the
    // blocked pair volume priced by one slim aggregate BEFORE the
    // self-join commits — at both gate scales the auto choice lands on
    // 8 cells, so the result (and the DuckDB twin) is q_knn_graph's
    // verbatim; what's new is the refusal path a collapse-skewed corpus
    // would hit, proven by the 100x embedding stress in SCALE.md
    ContractQuery("q_knn_graph_auto", (s, dir) =>
      graft.similarity.Ivf.knnGraphAuto(t(s, dir, "embeddings"), k = 3,
          targetCellSize = 256, minCells = 8, iters = 1)
        .orderBy("query_id", "rank"),
      // the auto-gated build picks ceil(n/256) >= 8 cells — 8 at this gate
      // scale, so the twin is q_knn_graph's k-means replay, SHARED as one
      // val so the pair can never desync (the q_dedup_autocap oracle
      // trade: the gate's REFUSAL branch is exercised by IvfSpec and the
      // 100x stress, not the oracle)
      knnGraphTwinSql)
  )
}
