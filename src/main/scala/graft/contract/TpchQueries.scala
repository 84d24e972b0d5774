package graft
package contract

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.Context

import Shared._

/** TPC-H query shapes. */
object TpchQueries {

  val queries: Seq[ContractQuery] = Seq(
    // TPC-H Q17 shape: correlated scalar AGGREGATE subquery against the
    // fact table itself (small-quantity revenue below 20% of the part's
    // average). Catalyst decorrelates this into an aggregate + join — the
    // reference rejects subqueries outright (src/sql/expr.rs:120-124).
    ContractQuery("q_tpch_q17", (s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                 / 7.0 AS avg_yearly,
               count(*) AS n_small
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#23'
          AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                            FROM lineitem l2
                            WHERE l2.l_partkey = p_partkey)""")
    },
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                  / 7.0 AS avg_yearly,
                count(*) AS n_small
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE p_brand = 'Brand#23'
           AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                             FROM lineitem l2
                             WHERE l2.l_partkey = p_partkey)"""),

    // TPC-H Q20 shape: nested IN subqueries with a correlated aggregate
    // threshold (suppliers who shipped a 'red gear%' part at nearly twice
    // that part's average quantity).
    ContractQuery("q_tpch_q20", (s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        SELECT s_suppkey, s_name FROM supplier
        WHERE s_suppkey IN (
          SELECT l1.l_suppkey FROM lineitem l1
          WHERE l1.l_partkey IN (SELECT p_partkey FROM part
                                 WHERE p_name LIKE 'red gear%')
            AND l1.l_quantity > (SELECT 1.95 * avg(l2.l_quantity)
                                 FROM lineitem l2
                                 WHERE l2.l_partkey = l1.l_partkey))
        ORDER BY s_suppkey""")
    },
      """SELECT s_suppkey, s_name FROM supplier
         WHERE s_suppkey IN (
           SELECT l1.l_suppkey FROM lineitem l1
           WHERE l1.l_partkey IN (SELECT p_partkey FROM part
                                  WHERE p_name LIKE 'red gear%')
             AND l1.l_quantity > (SELECT 1.95 * avg(l2.l_quantity)
                                  FROM lineitem l2
                                  WHERE l2.l_partkey = l1.l_partkey))
         ORDER BY s_suppkey"""),

    // TPC-H Q21 shape: EXISTS + NOT EXISTS both correlated to the same
    // outer fact row (the only late supplier on a multi-supplier order;
    // "late" adapted to shipdate > orderdate + 60 days — this corpus has
    // no receipt/commit dates).
    ContractQuery("q_tpch_q21", (s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        SELECT s_name, count(*) AS numwait
        FROM supplier, lineitem l1, orders
        WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
          AND o_orderstatus = 'F'
          AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 100""")
    },
      """SELECT s_name, count(*) AS numwait
         FROM supplier, lineitem l1, orders
         WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
           AND o_orderstatus = 'F'
           AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
         GROUP BY s_name
         ORDER BY numwait DESC, s_name
         LIMIT 100"""),

    // TPC-H Q2 shape: correlated MIN subquery selects the cheapest source
    // per part (adapted: min l_extendedprice over lineitem stands in for
    // partsupp, which this corpus lacks). Equality on the stored double is
    // exact — no arithmetic on the compared value.
    ContractQuery("q_tpch_q2", (s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        SELECT DISTINCT p_partkey, s_name, l_extendedprice AS min_price
        FROM part, supplier, lineitem, nation, region
        WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
          AND p_size = 15
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND r_name = 'EUROPE'
          AND l_extendedprice = (SELECT min(l2.l_extendedprice)
                                 FROM lineitem l2
                                 WHERE l2.l_partkey = p_partkey)
        ORDER BY p_partkey, s_name""")
    },
      """SELECT DISTINCT p_partkey, s_name, l_extendedprice AS min_price
         FROM part, supplier, lineitem, nation, region
         WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
           AND p_size = 15
           AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
           AND r_name = 'EUROPE'
           AND l_extendedprice = (SELECT min(l2.l_extendedprice)
                                  FROM lineitem l2
                                  WHERE l2.l_partkey = p_partkey)
         ORDER BY p_partkey, s_name"""),

    // TPC-H Q15 shape: top-revenue supplier via a reused CTE + scalar MAX
    // subquery over it (the "create view revenue" pattern). Revenue
    // accumulates in DECIMAL on both engines, so the MAX equality is exact.
    ContractQuery("q_tpch_q15", (s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        WITH revenue AS (
          SELECT l_suppkey AS supplier_no,
                 CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                          * (1 - CAST(l_discount AS DECIMAL(12,2))))
                      AS DOUBLE) AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
          GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, total_revenue
        FROM supplier, revenue
        WHERE s_suppkey = supplier_no
          AND total_revenue = (SELECT max(total_revenue) FROM revenue)
        ORDER BY s_suppkey""")
    },
      """WITH revenue AS (
           SELECT l_suppkey AS supplier_no,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                           * (1 - CAST(l_discount AS DECIMAL(12,2))))
                       AS DOUBLE) AS total_revenue
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
           GROUP BY l_suppkey)
         SELECT s_suppkey, s_name, total_revenue
         FROM supplier, revenue
         WHERE s_suppkey = supplier_no
           AND total_revenue = (SELECT max(total_revenue) FROM revenue)
         ORDER BY s_suppkey"""),

    // TPC-H Q22 shape: anti-join (customers with no orders) gated by an
    // uncorrelated aggregate threshold (above-average positive balance);
    // "no orders" adapted to "no orders since 1999" (dormant customers) —
    // every customer in this corpus has at least one order.
    // The avg compare is cross-multiplied (bal * n > total) so both
    // engines evaluate it with exact DECIMAL totals — no decimal-division
    // rounding divergence. Country code adapted to the customer's nation
    // (this corpus has no phone column).
    ContractQuery("q_tpch_q22", (s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        SELECT n_name AS cntry, count(*) AS numcust,
               CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                 AS totacctbal
        FROM customer, nation
        WHERE c_nationkey = n_nationkey
          AND c_acctbal * (SELECT count(*) FROM customer
                           WHERE c_acctbal > 0.0)
              > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                 FROM customer WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
        GROUP BY n_name
        ORDER BY n_name""")
    },
      """SELECT n_name AS cntry, count(*) AS numcust,
                CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                  AS totacctbal
         FROM customer, nation
         WHERE c_nationkey = n_nationkey
           AND c_acctbal * (SELECT count(*) FROM customer
                            WHERE c_acctbal > 0.0)
               > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                  FROM customer WHERE c_acctbal > 0.0)
           AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
         GROUP BY n_name
         ORDER BY n_name"""),

    // TPC-H Q12 shape: fact-to-fact join + conditional aggregation
    // (priority-split line counts over a one-year ship window; grouped by
    // l_linestatus — this corpus has no l_shipmode). Counts are integers →
    // engine-exact.
    ContractQuery("q_tpch_q12", (s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        SELECT l_linestatus,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
        GROUP BY l_linestatus
        ORDER BY l_linestatus""")
    },
      """SELECT l_linestatus,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                              THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                              THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
           AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
         GROUP BY l_linestatus
         ORDER BY l_linestatus"""),

    // TPC-H Q14 shape: conditional-revenue ratio (promo share of one
    // month's revenue). Both legs accumulate in DECIMAL, cast to DOUBLE
    // once, and the final multiply/divide is plain double arithmetic —
    // bit-identical across engines.
    ContractQuery("q_tpch_q14", (s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        SELECT CAST(100 AS DOUBLE)
                 * CAST(sum(CASE WHEN p_type = 'PROMO'
                       THEN CAST(l_extendedprice AS DECIMAL(12,2))
                            * (1 - CAST(l_discount AS DECIMAL(12,2)))
                       ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
                 / CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                            * (1 - CAST(l_discount AS DECIMAL(12,2))))
                        AS DOUBLE) AS promo_revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1995-10-01 00:00:00'""")
    },
      """SELECT CAST(100 AS DOUBLE)
                  * CAST(sum(CASE WHEN p_type = 'PROMO'
                        THEN CAST(l_extendedprice AS DECIMAL(12,2))
                             * (1 - CAST(l_discount AS DECIMAL(12,2)))
                        ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
                  / CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                             * (1 - CAST(l_discount AS DECIMAL(12,2))))
                         AS DOUBLE) AS promo_revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
           AND l_shipdate <  TIMESTAMP '1995-10-01 00:00:00'"""),

    // TPC-H Q18 shape: large-volume orders — IN over a grouped-HAVING
    // subquery on the fact table, then a 3-way join re-aggregated per
    // order and top-100 by price. Quantity sums accumulate in DECIMAL.
    ContractQuery("q_tpch_q18", (s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
               CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                 AS sum_qty
        FROM customer, orders, lineitem
        WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                             GROUP BY l_orderkey
                             HAVING sum(CAST(l_quantity AS DECIMAL(12,2)))
                                    > 150)
          AND c_custkey = o_custkey AND o_orderkey = l_orderkey
        GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 100""")
    },
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
                CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                  AS sum_qty
         FROM customer, orders, lineitem
         WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                              GROUP BY l_orderkey
                              HAVING sum(CAST(l_quantity AS DECIMAL(12,2)))
                                     > 150)
           AND c_custkey = o_custkey AND o_orderkey = l_orderkey
         GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
         ORDER BY o_totalprice DESC, o_orderkey
         LIMIT 100"""),

    // TPC-H Q19 shape: disjunction of conjunctive brand/size/quantity
    // branches over the part join (no shipmode/container in this corpus)
    // — the OR-of-ANDs predicate Catalyst splits into the common join key
    // plus a residual filter.
    ContractQuery("q_tpch_q19", (s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (1 - CAST(l_discount AS DECIMAL(12,2))))
                    AS DOUBLE) AS revenue,
               count(*) AS n_lines
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 20 AND 30)""")
    },
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                         * (1 - CAST(l_discount AS DECIMAL(12,2))))
                     AS DOUBLE) AS revenue,
                count(*) AS n_lines
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
                AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
                AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 20 AND 30)"""),

    // TPC-H Q4 shape: EXISTS-gated priority counts (late-shipping orders
    // in a quarter; "late" = shipped >30 days after order date — this
    // corpus has no commit/receipt dates)
    ContractQuery("q_tpch_q4", (s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")
    },
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey
                         AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority"""),

    // TPC-H Q7 shape: bidirectional nation-pair trade volume by year —
    // a 6-table join with a symmetric OR pair predicate and a year
    // extraction in the grouping
    ContractQuery("q_tpch_q7", (s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        SELECT supp_nation, cust_nation, l_year,
               CAST(sum(vol) AS DOUBLE) AS revenue
        FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                year(l_shipdate) AS l_year,
                CAST(l_extendedprice AS DECIMAL(12,2))
                  * (1 - CAST(l_discount AS DECIMAL(12,2))) AS vol
              FROM supplier, lineitem, orders, customer, nation n1, nation n2
              WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
                AND c_custkey = o_custkey
                AND s_nationkey = n1.n_nationkey
                AND c_nationkey = n2.n_nationkey
                AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                  OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
                AND l_shipdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                                   AND TIMESTAMP '1996-12-31 00:00:00')
             shipping
        GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year""")
    },
      """SELECT supp_nation, cust_nation, l_year,
                CAST(sum(vol) AS DOUBLE) AS revenue
         FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 year(l_shipdate) AS l_year,
                 CAST(l_extendedprice AS DECIMAL(12,2))
                   * (1 - CAST(l_discount AS DECIMAL(12,2))) AS vol
               FROM supplier, lineitem, orders, customer, nation n1, nation n2
               WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
                 AND c_custkey = o_custkey
                 AND s_nationkey = n1.n_nationkey
                 AND c_nationkey = n2.n_nationkey
                 AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
                 AND l_shipdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                                    AND TIMESTAMP '1996-12-31 00:00:00')
              shipping
         GROUP BY supp_nation, cust_nation, l_year
         ORDER BY supp_nation, cust_nation, l_year"""),

    // TPC-H Q8 shape: market-share ratio — one nation's share of an
    // 8-table join's volume per year, via the Q14 two-sum decimal-exact
    // ratio pattern
    ContractQuery("q_tpch_q8", (s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        SELECT o_year,
          CAST(sum(CASE WHEN supp_nation = 'NATION_3'
                THEN vol ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
          / CAST(sum(vol) AS DOUBLE) AS mkt_share
        FROM (SELECT year(o_orderdate) AS o_year,
                CAST(l_extendedprice AS DECIMAL(12,2))
                  * (1 - CAST(l_discount AS DECIMAL(12,2))) AS vol,
                n1.n_name AS supp_nation
              FROM part, supplier, lineitem, orders, customer,
                   nation n1, nation n2, region
              WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
                AND l_orderkey = o_orderkey AND o_custkey = c_custkey
                AND c_nationkey = n2.n_nationkey
                AND n2.n_regionkey = r_regionkey AND r_name = 'AMERICA'
                AND s_nationkey = n1.n_nationkey
                AND o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                                    AND TIMESTAMP '1996-12-31 00:00:00'
                AND p_type = 'ECONOMY') allnations
        GROUP BY o_year ORDER BY o_year""")
    },
      """SELECT o_year,
           CAST(sum(CASE WHEN supp_nation = 'NATION_3'
                 THEN vol ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
           / CAST(sum(vol) AS DOUBLE) AS mkt_share
         FROM (SELECT year(o_orderdate) AS o_year,
                 CAST(l_extendedprice AS DECIMAL(12,2))
                   * (1 - CAST(l_discount AS DECIMAL(12,2))) AS vol,
                 n1.n_name AS supp_nation
               FROM part, supplier, lineitem, orders, customer,
                    nation n1, nation n2, region
               WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
                 AND l_orderkey = o_orderkey AND o_custkey = c_custkey
                 AND c_nationkey = n2.n_nationkey
                 AND n2.n_regionkey = r_regionkey AND r_name = 'AMERICA'
                 AND s_nationkey = n1.n_nationkey
                 AND o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                                     AND TIMESTAMP '1996-12-31 00:00:00'
                 AND p_type = 'ECONOMY') allnations
         GROUP BY o_year ORDER BY o_year"""),

    // TPC-H Q6 shape: pure scan-side conditional revenue — every
    // predicate lands in PushedFilters, no join at all (the query whose
    // whole cost is how little of the fact table the scan reads)
    ContractQuery("q_tpch_q6", (s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                        * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE)
                 AS revenue,
               count(*) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24""")
    },
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                         * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE)
                  AS revenue,
                count(*) AS n_lines
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
           AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
           AND l_discount BETWEEN 0.05 AND 0.07
           AND l_quantity < 24"""),

    // TPC-H Q13 shape: distribution of per-customer order counts — LEFT
    // join keeping zero-order customers, aggregate, then aggregate the
    // aggregate (the count-of-counts histogram)
    ContractQuery("q_tpch_q13", (s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        SELECT c_count, count(*) AS custdist
        FROM (SELECT c_custkey, count(o_orderkey) AS c_count
              FROM customer LEFT JOIN orders
                ON c_custkey = o_custkey
                AND o_orderpriority <> '1-URGENT'
              GROUP BY c_custkey) c_orders
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC""")
    },
      """SELECT c_count, count(*) AS custdist
         FROM (SELECT c_custkey, count(o_orderkey) AS c_count
               FROM customer LEFT JOIN orders
                 ON c_custkey = o_custkey
                 AND o_orderpriority <> '1-URGENT'
               GROUP BY c_custkey) c_orders
         GROUP BY c_count
         ORDER BY custdist DESC, c_count DESC"""),

    // TPC-H Q10 shape: top returned-revenue customers in a quarter
    // (join + group + decimal-exact revenue + deterministic top-20)
    ContractQuery("q_tpch_q10", (s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        SELECT c_custkey, c_name, n_name,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (1 - CAST(l_discount AS DECIMAL(12,2))))
                    AS DOUBLE) AS revenue
        FROM customer, orders, lineitem, nation
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND o_orderdate >= TIMESTAMP '1995-10-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
          AND l_returnflag = 'R' AND c_nationkey = n_nationkey
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20""")
    },
      """SELECT c_custkey, c_name, n_name,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                         * (1 - CAST(l_discount AS DECIMAL(12,2))))
                     AS DOUBLE) AS revenue
         FROM customer, orders, lineitem, nation
         WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
           AND o_orderdate >= TIMESTAMP '1995-10-01 00:00:00'
           AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
           AND l_returnflag = 'R' AND c_nationkey = n_nationkey
         GROUP BY c_custkey, c_name, n_name
         ORDER BY revenue DESC, c_custkey
         LIMIT 20"""),

    // TPC-H Q3 shape (shipping priority): 3-way join, date filters on
    // BOTH fact sides, revenue top-10. (q_mjoin_topk is the undated
    // precursor; this is the full Q3 with the date predicates. The corpus
    // has no o_shippriority column.) Revenue accumulates in DECIMAL.
    ContractQuery("q_tpch_q3", (s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        SELECT l_orderkey,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (1 - CAST(l_discount AS DECIMAL(12,2))))
                    AS DOUBLE) AS revenue,
               o_orderdate
        FROM customer, orders, lineitem
        WHERE c_mktsegment = 'BUILDING'
          AND c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate  > TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, o_orderdate, l_orderkey
        LIMIT 10""")
    },
      """SELECT l_orderkey,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(12,2))))
                AS DOUBLE) AS revenue,
           o_orderdate
         FROM customer, orders, lineitem
         WHERE c_mktsegment = 'BUILDING'
           AND c_custkey = o_custkey AND l_orderkey = o_orderkey
           AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
           AND l_shipdate  > TIMESTAMP '1997-01-01 00:00:00'
         GROUP BY l_orderkey, o_orderdate
         ORDER BY revenue DESC, o_orderdate, l_orderkey
         LIMIT 10"""),

    // TPC-H Q5 shape (local supplier volume): 6-way join where the
    // supplier's nation must equal the customer's (the join cycle that
    // makes Q5 interesting), region filter, one-year-style date window.
    ContractQuery("q_tpch_q5", (s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        SELECT n_name,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (1 - CAST(l_discount AS DECIMAL(12,2))))
                    AS DOUBLE) AS revenue
        FROM customer, orders, lineitem, supplier, nation, region
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name""")
    },
      """SELECT n_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(12,2))))
                AS DOUBLE) AS revenue
         FROM customer, orders, lineitem, supplier, nation, region
         WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
           AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
           AND r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY n_name
         ORDER BY revenue DESC, n_name"""),

    // TPC-H Q9 shape (product-type profit): the widest fact join in the
    // suite (part+supplier+lineitem+orders+nation), part-name LIKE
    // filter, profit grouped by supplier nation and order year.
    // p_retailprice stands in for ps_supplycost (no partsupp table in
    // this corpus); all arithmetic accumulates in DECIMAL so the profit
    // sums are engine-exact.
    ContractQuery("q_tpch_q9", (s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        SELECT nation, o_year, CAST(sum(amount) AS DOUBLE) AS sum_profit
        FROM (
          SELECT n_name AS nation,
                 CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
                 CAST(l_extendedprice AS DECIMAL(12,2))
                   * (1 - CAST(l_discount AS DECIMAL(12,2)))
                   - CAST(p_retailprice AS DECIMAL(12,2))
                     * CAST(l_quantity AS DECIMAL(12,2)) AS amount
          FROM part, supplier, lineitem, orders, nation
          WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
            AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
            AND p_name LIKE '%red%'
        ) profit
        GROUP BY nation, o_year
        ORDER BY nation, o_year DESC""")
    },
      """SELECT nation, o_year, CAST(sum(amount) AS DOUBLE) AS sum_profit
         FROM (
           SELECT n_name AS nation,
                  CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
                  CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(12,2)))
                    - CAST(p_retailprice AS DECIMAL(12,2))
                      * CAST(l_quantity AS DECIMAL(12,2)) AS amount
           FROM part, supplier, lineitem, orders, nation
           WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
             AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
             AND p_name LIKE '%red%'
         ) profit
         GROUP BY nation, o_year
         ORDER BY nation, o_year DESC"""),

    // TPC-H Q11 shape (important stock): grouped value per part gated by
    // a HAVING against a scalar subquery over the SAME grouped set.
    // lineitem value per part stands in for partsupp stock value; the
    // threshold is scale-free (3x the average part value) and compared
    // cross-multiplied in exact integer cents — no decimal division, so
    // the cut is bit-identical on both engines.
    ContractQuery("q_tpch_q11", (s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        WITH g AS (
          SELECT l_partkey AS ps_partkey,
                 sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS v,
                 CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * 100)
                      AS BIGINT) AS v_cents
          FROM lineitem, supplier, nation
          WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
            AND n_name = 'NATION_12'
          GROUP BY l_partkey)
        SELECT ps_partkey, CAST(v AS DOUBLE) AS value
        FROM g
        WHERE v_cents * (SELECT count(*) FROM g)
              > 3 * (SELECT sum(v_cents) FROM g)
        ORDER BY value DESC, ps_partkey""")
    },
      """WITH g AS (
           SELECT l_partkey AS ps_partkey,
                  sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS v,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * 100)
                       AS BIGINT) AS v_cents
           FROM lineitem, supplier, nation
           WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
             AND n_name = 'NATION_12'
           GROUP BY l_partkey)
         SELECT ps_partkey, CAST(v AS DOUBLE) AS value
         FROM g
         WHERE v_cents * (SELECT count(*) FROM g)
               > 3 * (SELECT sum(v_cents) FROM g)
         ORDER BY value DESC, ps_partkey"""),

    // TPC-H Q16 shape (parts/supplier relationship): NOT-IN subquery
    // excluding a supplier set + count-DISTINCT aggregation over part
    // attribute groups + IN value list. Suppliers with negative balance
    // stand in for the '%Complaints%' comment filter (no s_comment
    // column); lineitem supplies the part-supplier pairs.
    ContractQuery("q_tpch_q16", (s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        SELECT p_brand, p_type, p_size,
               count(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem, part
        WHERE p_partkey = l_partkey
          AND p_brand <> 'Brand#45'
          AND p_type NOT LIKE 'MEDIUM%'
          AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""")
    },
      """SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
         FROM lineitem, part
         WHERE p_partkey = l_partkey
           AND p_brand <> 'Brand#45'
           AND p_type NOT LIKE 'MEDIUM%'
           AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
           AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                 WHERE s_acctbal < 0)
         GROUP BY p_brand, p_type, p_size
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""),

    // TPC-H Q1 in full (the named 22/22): all 8 aggregate columns, the
    // price/discount/tax products kept in exact DECIMAL arithmetic until
    // the final double cast — order-independent, engine-exact
    ContractQuery("q_tpch_q1", (s, dir) => {
      val one = lit(1).cast(DecimalType(12, 2))
      val price = dec2(col("l_extendedprice"))
      val disc = dec2(col("l_discount"))
      val tax = dec2(col("l_tax"))
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(price * (one - disc)).cast(DoubleType).as("sum_disc_price"),
          sum(price * (one - disc) * (one + tax)).cast(DoubleType)
            .as("sum_charge"),
          (sum(dec2(col("l_quantity"))).cast(DoubleType) / count(lit(1)))
            .as("avg_qty"),
          (sum(dec2(col("l_extendedprice"))).cast(DoubleType) /
            count(lit(1))).as("avg_price"),
          (sum(dec2(col("l_discount"))).cast(DoubleType) / count(lit(1)))
            .as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      """SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
             AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
             * (CAST(1 AS DECIMAL(12,2))
                - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
             AS sum_disc_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
             * (CAST(1 AS DECIMAL(12,2))
                - CAST(l_discount AS DECIMAL(12,2)))
             * (CAST(1 AS DECIMAL(12,2))
                + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
             / count(*) AS avg_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             / count(*) AS avg_price,
           CAST(sum(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE)
             / count(*) AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
         FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
         GROUP BY 1, 2 ORDER BY 1, 2""")
  )
}
