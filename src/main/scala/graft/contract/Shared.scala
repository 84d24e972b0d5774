package graft
package contract

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.Tables

/** Helpers used by more than one contract family (and by
  * [[graft.SparkEntry.entry]]). */
object Shared {

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Exact decimal view of a 2-dp monetary/quantity double. */
  private[graft] def dec2(c: Column): Column = c.cast(DecimalType(12, 2))

  /** Order-independent SUM of a 2-dp double, returned as DOUBLE. */
  private[graft] def dsum(c: Column): Column = sum(dec2(c)).cast(DoubleType)

  /** The same two-limb Knuth hash in SPARK SQL dialect (`div` for
    * integer division; inputs are nonnegative so `%` == pmod) — used by
    * the §2.6 front-door twins of the hash-masked transforms. One body
    * shared with [[hash32Sql]] so the two dialects can never drift. */
  private[graft] def hash32SqlDialect(x: String, intDiv: String): String =
    s"(((($x) % 4294967296) % 65536) * 2654435761" +
      s" + ((((($x) % 4294967296) $intDiv 65536) * 2654435761) % 65536)" +
      " * 65536) % 4294967296"

  /** The width-safe two-limb Knuth hash (Profile.hash32) over an SQL
    * expression — every intermediate < 1.8e14, identical in any engine.
    * DuckDB dialect of [[hash32SqlDialect]] (`//` integer division). */
  private[graft] def hash32Sql(x: String): String =
    hash32SqlDialect(x, "//")

  /** Shared CTE chain for the simhash twins: tokenize, FNV-1a per token
    * in HUGEINT mod-2^64, per-bit +1/-1 tallies, 64-bit sign list. */
  private[graft] def simhashBitsCte: String =
    s"""WITH toks AS (
           SELECT doc_id, unnest(list_filter(
             regexp_split_to_array(text, '[ \n\t\r]+'), x -> x <> '')) AS tok
           FROM documents),
         th AS (
           SELECT doc_id,
             list_reduce(
               list_prepend(CAST('14695981039346656037' AS HUGEINT),
                 list_transform(generate_series(1, length(tok)),
                   i -> CAST(ord(substr(tok, i, 1)) AS HUGEINT))),
               (h, b) -> (xor(h, b) * CAST('1099511628211' AS HUGEINT))
                 % CAST('18446744073709551616' AS HUGEINT)) AS h
           FROM toks),
         pw AS (SELECT * FROM (VALUES $pow2Values) AS t(b, p)),
         bits AS (
           SELECT t.doc_id, pw.b,
             sum(CASE WHEN (t.h // pw.p) % 2 = 1 THEN 1 ELSE -1 END) AS tally
           FROM th t CROSS JOIN pw GROUP BY t.doc_id, pw.b),
         sh AS (
           SELECT doc_id,
             list(CASE WHEN tally > 0 THEN 1 ELSE 0 END ORDER BY b) AS bits
           FROM bits GROUP BY doc_id)"""

  /** 2^b HUGEINT literals for the DuckDB simhash twin's bit extraction. */
  private[graft] def pow2Values: String =
    (0 until 64).map(b => s"($b, CAST('${BigInt(1) << b}' AS HUGEINT))")
      .mkString(", ")

  /** Shared DuckDB CTE prefix twinning the deterministic k-means path:
    * lowest-id seeds, one Lloyd iteration with the ordered-fold mean, and
    * the final nearest-centroid assignment (`a1`: vec_id, v, cid). Used by
    * the IVF twins (probe + top-k on top) and the SemDeDup twin
    * (within-cluster pair enumeration on top). ONE text with
    * [[kmeansAssignBaseCtes]] (base filter TRUE = train on everything) so
    * a future oracle tweak cannot silently diverge the siblings. */
  private[graft] lazy val kmeansAssignCtes: String = kmeansAssignBaseCtes("TRUE")

  /** [[kmeansAssignCtes]] variant for the INCREMENTAL path: the k-means
    * training chain (seeds, one Lloyd iteration) runs over the BASE
    * subset only (`baseWhere`), but the final assignment `a1` covers the
    * FULL corpus — exactly what assign-new-batch-to-frozen-centroids
    * computes, since per-row assignment is independent of which store
    * file the row lands in. */
  private[graft] def kmeansAssignBaseCtes(baseWhere: String): String =
    kmeansAssignCorpusCtes(baseWhere, "TRUE")

  /** [[kmeansAssignBaseCtes]] with the final assignment `a1` ALSO
    * restricted, to `corpusWhere` — the drift-audit stage shape: train on
    * the resident base, assign only the vectors that exist at a given
    * append stage (the inner alias shadows `e`, so a1's text is
    * unchanged). One body for all three k-means twin variants. */
  private[graft] def kmeansAssignCorpusCtes(baseWhere: String,
      corpusWhere: String,
      eSql: String = """SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings"""): String =
    s"""WITH e AS ($eSql),
         eb AS (SELECT vec_id, v FROM e WHERE $baseWhere),
         seeds AS (
           SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
               AS cid, v
           FROM (SELECT * FROM eb ORDER BY vec_id LIMIT 8)),
         a0 AS (
           SELECT vec_id, v, cid FROM (
             SELECT eb.vec_id, eb.v, s.cid,
               row_number() OVER (PARTITION BY eb.vec_id ORDER BY
                 (list_dot_product(eb.v, s.v)
                  / (sqrt(list_dot_product(eb.v, eb.v))
                     * sqrt(list_dot_product(s.v, s.v)))) DESC,
                 s.cid ASC) AS rn
             FROM eb CROSS JOIN seeds s) WHERE rn = 1),
         vals AS (
           SELECT a0.cid, t.i AS dim, a0.v[t.i] AS val, a0.vec_id
           FROM a0, unnest(generate_series(1, 64)) AS t(i)),
         m1 AS (
           SELECT cid, dim,
             CAST(list_reduce(list(val ORDER BY vec_id), (a, b) -> a + b)
               / count(*) AS FLOAT) AS f
           FROM vals GROUP BY cid, dim),
         c1 AS (SELECT cid, list(CAST(f AS DOUBLE) ORDER BY dim) AS cv
                FROM m1 GROUP BY cid),
         a1 AS (
           SELECT vec_id, v, cid FROM (
             SELECT e.vec_id, e.v, c.cid,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 (list_dot_product(e.v, c.cv)
                  / (sqrt(list_dot_product(e.v, e.v))
                     * sqrt(list_dot_product(c.cv, c.cv)))) DESC,
                 c.cid ASC) AS rn
             FROM (SELECT * FROM e WHERE $corpusWhere) e
               CROSS JOIN c1 c) WHERE rn = 1)"""

  /** Probe + top-k suffix shared by the IVF twins (parameterized by the
    * query-set size). */
  private[graft] def ivfProbeSuffix(nQueries: Int): String = s""",
         probes AS (
           SELECT query_id, qv, cid FROM (
             SELECT e.vec_id AS query_id, e.v AS qv, c.cid,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 (list_dot_product(e.v, c.cv)
                  / (sqrt(list_dot_product(e.v, e.v))
                     * sqrt(list_dot_product(c.cv, c.cv)))) DESC,
                 c.cid ASC) AS rn
             FROM e CROSS JOIN c1 c WHERE e.vec_id < $nQueries) WHERE rn <= 2),
         scored AS (
           SELECT p.query_id, a1.vec_id AS neighbor_id,
             round(list_dot_product(p.qv, a1.v)
               / (sqrt(list_dot_product(p.qv, p.qv))
                  * sqrt(list_dot_product(a1.v, a1.v))), 6) AS cosine
           FROM a1 JOIN probes p
             ON a1.cid = p.cid AND a1.vec_id <> p.query_id),
         ranked AS (
           SELECT query_id,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank,
             neighbor_id, cosine
           FROM scored)
         SELECT query_id, rank, neighbor_id, cosine FROM ranked
         WHERE rank <= 5 ORDER BY query_id, rank"""
}
