package graft
package contract

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.Context
import graft.operators.Relational
import graft.streaming.Streams

import Shared._

/** Relational operators L1-L8, joins, set operations, windows and the SQL front door. */
object RelationalQueries {

  val queries: Seq[ContractQuery] = Seq(
    // ---------------- L1 Scan (ref: src/plan/logical/scan.rs:12-56)
    ContractQuery("q_scan", (s, dir) =>
      t(s, dir, "nation").orderBy("n_nationkey"),
      "SELECT * FROM nation ORDER BY n_nationkey"),

    // ---------------- L2 Projection + arithmetic expressions
    // (ref: src/plan/logical/projection.rs, binary ops +,-,*,/)
    ContractQuery("q_projection", (s, dir) =>
      Relational.project(t(s, dir, "lineitem"), Seq(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("net_price"),
        (col("l_quantity") + col("l_tax")).as("qty_plus_tax"),
        (col("l_extendedprice") - col("l_discount")).as("price_minus_disc"),
        (col("l_extendedprice") / (col("l_quantity") + lit(1.0))).as("unit_price")))
        .orderBy("l_orderkey", "l_linenumber", "net_price", "qty_plus_tax",
          "price_minus_disc", "unit_price"),
      """SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1.0 - l_discount) AS net_price,
           l_quantity + l_tax AS qty_plus_tax,
           l_extendedprice - l_discount AS price_minus_disc,
           l_extendedprice / (l_quantity + 1.0) AS unit_price
         FROM lineitem ORDER BY l_orderkey, l_linenumber, net_price,
           qty_plus_tax, price_minus_disc, unit_price"""),

    // ---------------- L3 Filter: all 12 binary operators
    // (ref: src/expression/operator.rs:5-18 — Eq NotEq Lt LtEq Gt GtEq
    //  Plus Minus Multiply Divide And Or)
    ContractQuery("q_filter", (s, dir) =>
      Relational.filter(t(s, dir, "lineitem"),
        ((col("l_quantity") > 30.0 && col("l_discount") <= 0.05) ||
          (col("l_quantity") + col("l_tax") < 5.0 && col("l_returnflag") === "R")) &&
          col("l_linestatus") =!= "X" &&
          col("l_extendedprice") * 0.9 >= 100.0 &&
          col("l_extendedprice") - col("l_discount") < 99000.0 &&
          col("l_extendedprice") / 2.0 >= 50.0 &&
          col("l_partkey") < 100000)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_discount"),
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount
         FROM lineitem
         WHERE ((l_quantity > 30.0 AND l_discount <= 0.05)
             OR (l_quantity + l_tax < 5.0 AND l_returnflag = 'R'))
           AND l_linestatus <> 'X'
           AND l_extendedprice * 0.9 >= 100.0
           AND l_extendedprice - l_discount < 99000.0
           AND l_extendedprice / 2.0 >= 50.0
           AND l_partkey < 100000
         ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount"""),

    // ---------------- L6 Limit (fetch) — ref: src/plan/logical/limit.rs
    ContractQuery("q_limit", (s, dir) =>
      Relational.limit(
        t(s, dir, "lineitem").select("l_orderkey", "l_linenumber")
          .orderBy("l_orderkey", "l_linenumber"), 0, Some(100)),
      """SELECT l_orderkey, l_linenumber FROM lineitem
         ORDER BY l_orderkey, l_linenumber LIMIT 100"""),

    // ---------------- L6 Limit (skip+fetch / OFFSET)
    ContractQuery("q_offset", (s, dir) =>
      Relational.limit(
        t(s, dir, "lineitem").select("l_orderkey", "l_linenumber")
          .orderBy("l_orderkey", "l_linenumber"), 50, Some(100)),
      """SELECT l_orderkey, l_linenumber FROM lineitem
         ORDER BY l_orderkey, l_linenumber LIMIT 100 OFFSET 50"""),

    // ---------------- L8 Distinct (ref: src/plan/logical/distinct.rs)
    ContractQuery("q_distinct", (s, dir) =>
      Relational.distinct(
        t(s, dir, "lineitem").select("l_returnflag", "l_linestatus"))
        .orderBy("l_returnflag", "l_linestatus"),
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
         ORDER BY l_returnflag, l_linestatus"""),

    // ---------------- L5 Sort: multi-key, mixed asc/desc
    // (ref: src/plan/logical/sort.rs; per-key asc/desc)
    ContractQuery("q_sort", (s, dir) =>
      t(s, dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy(col("o_orderstatus").asc, col("o_totalprice").desc,
          col("o_orderkey").asc),
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
         ORDER BY o_orderstatus ASC, o_totalprice DESC, o_orderkey ASC"""),

    // ---------------- L4 Aggregate, no groups (ref: P5 no_groups.rs)
    // All 5 functions: COUNT SUM AVG MIN MAX (ref: §2.4)
    ContractQuery("q_agg_nogroup", (s, dir) =>
      t(s, dir, "lineitem").agg(
        count(lit(1)).as("cnt_all"),
        count(col("l_quantity")).as("cnt_qty"),
        dsum(col("l_quantity")).as("sum_qty"),
        (sum(dec2(col("l_quantity"))).cast(DoubleType) /
          count(col("l_quantity"))).as("avg_qty"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        min(col("l_returnflag")).as("min_flag"),
        max(col("l_returnflag")).as("max_flag")),
      """SELECT count(*) AS cnt_all,
           count(l_quantity) AS cnt_qty,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(l_quantity) AS avg_qty,
           min(l_quantity) AS min_qty,
           max(l_quantity) AS max_qty,
           min(l_returnflag) AS min_flag,
           max(l_returnflag) AS max_flag
         FROM lineitem"""),

    // ---------------- L4 grouped aggregate — TPC-H Q1 shape
    // (ref: P6 row_hash.rs grouped hash aggregation; correct semantics,
    //  not the reference's hash-collision/AVG-cast bugs — SURVEY.md §7.4)
    ContractQuery("q_agg_group", (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast(TimestampType))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
            .cast(DoubleType).as("sum_disc_price"),
          (sum(dec2(col("l_quantity"))).cast(DoubleType) /
            count(col("l_quantity"))).as("avg_qty"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus"),
      """SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(l_quantity) AS avg_qty,
           count(*) AS cnt
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus"""),

    // ---------------- aggregate null semantics (COUNT skips nulls,
    // ref: count.rs:93-98; AVG/SUM null-skipping, ref: §2.4 table)
    ContractQuery("q_agg_nulls", (s, dir) =>
      t(s, dir, "lineitem")
        .select(nullif(col("l_returnflag"), lit("R")).as("flag_or_null"),
          nullif(col("l_quantity"), lit(17.0)).as("qty_or_null"))
        .agg(
          count(lit(1)).as("cnt_all"),
          count(col("flag_or_null")).as("cnt_flag"),
          count(col("qty_or_null")).as("cnt_qty"),
          dsum(col("qty_or_null")).as("sum_qty"),
          min(col("qty_or_null")).as("min_qty"),
          max(col("flag_or_null")).as("max_flag")),
      """SELECT count(*) AS cnt_all,
           count(nullif(l_returnflag, 'R')) AS cnt_flag,
           count(nullif(l_quantity, 17.0)) AS cnt_qty,
           CAST(sum(CAST(nullif(l_quantity, 17.0) AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           min(nullif(l_quantity, 17.0)) AS min_qty,
           max(nullif(l_returnflag, 'R')) AS max_flag
         FROM lineitem"""),

    // ---------------- L7 inner equi-join + aggregate
    // (ref: P8 hash_join.rs; Catalyst picks broadcast-hash here since the
    //  dim side is small — at 100 TB this is the broadcast-dim pattern)
    ContractQuery("q_join_inner", (s, dir) => {
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
      Relational.join(o, broadcast(c), Seq("o_custkey" -> "c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
        .orderBy("c_mktsegment")
    },
      """SELECT c_mktsegment, count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    // ---------------- L7 left outer join: unmatched build rows null-padded
    // (ref: hash_join.rs left-join visited bitmap; COUNT(null)=0)
    ContractQuery("q_join_left", (s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      Relational.join(c, o, Seq("c_custkey" -> "o_custkey"), "left")
        .groupBy(c("c_custkey"), col("c_name"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          dsum(col("o_totalprice")).as("sum_total"))
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_total
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey, c_name ORDER BY c_custkey"""),

    // ---------------- left join raw rows: null padding visible
    ContractQuery("q_join_left_rows", (s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      Relational.join(c, o, Seq("c_custkey" -> "o_custkey"), "left")
        .select(c("c_custkey"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("c_custkey").asc, col("o_orderkey").asc_nulls_first)
    },
      """SELECT c_custkey, o_orderkey, o_totalprice
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         ORDER BY c_custkey ASC, o_orderkey ASC NULLS FIRST"""),

    // ---------------- duplicate-key fan-out join
    // (ref: dataframe.rs:518-543 duplicate-key cases; lineitem⋈orders
    //  fans out multiple lines per order)
    ContractQuery("q_join_fanout", (s, dir) => {
      val l = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      Relational.join(l, o, Seq("l_orderkey" -> "o_orderkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("o_orderstatus"),
          col("o_totalprice"))
        .orderBy("l_orderkey", "l_linenumber", "o_orderstatus", "o_totalprice")
    },
      """SELECT l_orderkey, l_linenumber, o_orderstatus, o_totalprice
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         ORDER BY l_orderkey, l_linenumber, o_orderstatus, o_totalprice"""),

    // ---------------- equi-join + non-equi residual filter
    // (ref: JoinFilter, src/plan/physical/joins/utils.rs:62-100)
    ContractQuery("q_join_residual", (s, dir) => {
      val l = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      Relational.join(l, o, Seq("l_orderkey" -> "o_orderkey"),
          residual = Some(col("l_extendedprice") > col("o_totalprice") * 0.5))
        .select(col("l_orderkey"), col("l_linenumber"), col("o_totalprice"))
        .orderBy("l_orderkey", "l_linenumber", "o_totalprice")
    },
      """SELECT l_orderkey, l_linenumber, o_totalprice
         FROM lineitem JOIN orders
           ON l_orderkey = o_orderkey AND l_extendedprice > o_totalprice * 0.5
         ORDER BY l_orderkey, l_linenumber, o_totalprice"""),

    // ---------------- empty-key join → cross + theta filter
    // (ref: NestedLoopJoinExec path, planner.rs:186-194)
    ContractQuery("q_cross_theta", (s, dir) => {
      val r = t(s, dir, "region"); val n = t(s, dir, "nation")
      Relational.join(r, n, Seq.empty, "inner",
          Some(col("r_regionkey") < col("n_regionkey")))
        .select(col("r_name"), col("n_name"))
        .orderBy("r_name", "n_name")
    },
      """SELECT r_name, n_name FROM region, nation
         WHERE r_regionkey < n_regionkey ORDER BY r_name, n_name"""),

    // ---------------- SQL front door (ref: §2.6 SessionContext::sql with
    // catalog validation; grammar superset via Spark SQL)
    ContractQuery("q_sql", (s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        SELECT n.n_name,
               count(*) AS n_customers,
               CAST(sum(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_acctbal
        FROM customer c
        INNER JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE c.c_acctbal > 100.0
        GROUP BY n.n_name
        ORDER BY n.n_name""")
    },
      """SELECT n.n_name, count(*) AS n_customers,
           CAST(sum(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_acctbal
         FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
         WHERE c.c_acctbal > 100.0
         GROUP BY n.n_name ORDER BY n.n_name"""),

    // multi-join analytics, TPC-H Q3 shape: revenue top-10 by order
    ContractQuery("q_mjoin_topk", (s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders"); val l = t(s, dir, "lineitem")
      c.filter(col("c_mktsegment") === "BUILDING")
        .join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(o("o_orderkey"), o("o_orderdate"))
        .agg(sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
          .cast(DoubleType).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), col("revenue"))
    },
      """SELECT o_orderkey,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE c_mktsegment = 'BUILDING'
         GROUP BY o_orderkey, o_orderdate
         ORDER BY revenue DESC, o_orderkey ASC LIMIT 10"""),

    // multi-join analytics, TPC-H Q5 shape: revenue by nation
    ContractQuery("q_mjoin_nation", (s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem"); val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
          .cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("n_name"))
    },
      """SELECT n_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
           count(*) AS n_lines
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY n_name ORDER BY n_name"""),

    // ================= beyond-reference relational =================

    // set ops (absent in reference — SURVEY.md §2.5)
    ContractQuery("q_union", (s, dir) =>
      t(s, dir, "customer").select(col("c_custkey").as("k"))
        .union(t(s, dir, "orders").select(col("o_custkey").as("k")))
        .distinct().orderBy("k"),
      """SELECT c_custkey AS k FROM customer
         UNION SELECT o_custkey AS k FROM orders ORDER BY k"""),
    ContractQuery("q_intersect", (s, dir) =>
      t(s, dir, "customer").select(col("c_custkey").as("k"))
        .intersect(t(s, dir, "orders").select(col("o_custkey").as("k")))
        .orderBy("k"),
      """SELECT c_custkey AS k FROM customer
         INTERSECT SELECT o_custkey AS k FROM orders ORDER BY k"""),
    ContractQuery("q_except", (s, dir) =>
      t(s, dir, "customer").select(col("c_custkey").as("k"))
        .except(t(s, dir, "orders").select(col("o_custkey").as("k")))
        .orderBy("k"),
      """SELECT c_custkey AS k FROM customer
         EXCEPT SELECT o_custkey AS k FROM orders ORDER BY k"""),

    // window functions (absent in reference — SURVEY.md §2.5)
    ContractQuery("q_window_rank", (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).cast(LongType).as("rn"))
        .filter(col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    },
      """SELECT * FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rn
           FROM orders) t
         WHERE rn <= 3 ORDER BY o_custkey, rn"""),
    ContractQuery("q_window_running", (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          sum(dec2(col("o_totalprice"))).over(w).cast(DoubleType).as("running_total"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_total
         FROM orders ORDER BY o_custkey, o_orderkey"""),

    // running DISTINCT count per key — Spark has no COUNT(DISTINCT) over
    // windows, so the engine expresses it as size(collect_set) over the
    // same frame (set size bounded by the column's cardinality; window
    // partitioned by user, never global)
    ContractQuery("q_window_distinct", (s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          size(collect_set(col("event_type")).over(w)).cast(LongType)
            .as("n_types"))
        .orderBy("user_id", "event_id")
    },
      """SELECT user_id, event_id,
           count(DISTINCT event_type) OVER (
             PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_types
         FROM events ORDER BY user_id, event_id"""),

    // scalar string functions (absent in reference — SURVEY.md §2.5)
    ContractQuery("q_string_funcs", (s, dir) =>
      t(s, dir, "nation").select(
        col("n_nationkey"),
        upper(col("n_name")).as("uname"),
        lower(col("n_name")).as("lname"),
        substring(col("n_name"), 1, 3).as("prefix3"),
        length(col("n_name")).as("name_len"),
        concat(col("n_name"), lit("_"), col("n_regionkey").cast(StringType)).as("tagged"),
        ltrim(rtrim(col("n_name"))).as("trimmed"))
        .orderBy("n_nationkey"),
      """SELECT n_nationkey,
           upper(n_name) AS uname,
           lower(n_name) AS lname,
           substr(n_name, 1, 3) AS prefix3,
           CAST(length(n_name) AS INTEGER) AS name_len,
           n_name || '_' || CAST(n_regionkey AS VARCHAR) AS tagged,
           ltrim(rtrim(n_name)) AS trimmed
         FROM nation ORDER BY n_nationkey"""),

    // date/time functions (absent in reference)
    ContractQuery("q_date_funcs", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("yr", "mo"),
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
           CAST(month(o_orderdate) AS INTEGER) AS mo,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
         FROM orders GROUP BY 1, 2 ORDER BY yr, mo"""),

    // CASE WHEN (absent in reference)
    ContractQuery("q_case_when", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(when(col("l_quantity") < 10, "low")
          .when(col("l_quantity") < 30, "mid")
          .otherwise("high").as("bucket"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("total"))
        .orderBy("bucket"),
      """SELECT CASE WHEN l_quantity < 10 THEN 'low'
                WHEN l_quantity < 30 THEN 'mid'
                ELSE 'high' END AS bucket,
           count(*) AS n,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total
         FROM lineitem GROUP BY 1 ORDER BY bucket"""),

    // IN / BETWEEN / LIKE / IS NULL predicates (absent in reference)
    ContractQuery("q_predicates", (s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderstatus").isin("F", "O") &&
          col("o_totalprice").between(1000.0, 50000.0) &&
          col("o_orderpriority").like("%1%") &&
          col("o_orderdate").isNotNull)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey"),
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
         WHERE o_orderstatus IN ('F','O')
           AND o_totalprice BETWEEN 1000.0 AND 50000.0
           AND o_orderpriority LIKE '%1%'
           AND o_orderdate IS NOT NULL
         ORDER BY o_orderkey"""),

    // DISTINCT aggregates (absent in reference — SURVEY.md §2.5)
    ContractQuery("q_agg_distinct", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_orderkey")).as("n_orders"),
          countDistinct(col("l_partkey")).as("n_parts"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag"),
      """SELECT l_returnflag,
           count(DISTINCT l_orderkey) AS n_orders,
           count(DISTINCT l_partkey) AS n_parts,
           count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // PIVOT (wide aggregation; absent in reference)
    ContractQuery("q_pivot", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("l_returnflag"),
      """SELECT l_returnflag,
           count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS "F",
           count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS "O"
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // null-safe equality (<=>; absent in reference)
    ContractQuery("q_nullsafe_eq", (s, dir) =>
      t(s, dir, "lineitem")
        .select(nullif(col("l_returnflag"), lit("N")).as("f1"),
          nullif(col("l_linestatus"), lit("O")).as("f2"))
        .groupBy((col("f1") <=> col("f2")).as("both_null_or_equal"))
        .agg(count(lit(1)).as("n"))
        .orderBy("both_null_or_equal"),
      """SELECT nullif(l_returnflag, 'N') IS NOT DISTINCT FROM nullif(l_linestatus, 'O')
             AS both_null_or_equal,
           count(*) AS n
         FROM lineitem GROUP BY 1 ORDER BY both_null_or_equal"""),

    // aggregate FILTER clauses (per-aggregate predicates — absent in
    // reference; distinct from count_if: any aggregate takes a filter)
    ContractQuery("q_agg_filter", (s, dir) =>
      t(s, dir, "orders").groupBy(col("o_orderstatus")).agg(
        expr("count(*) FILTER (WHERE o_totalprice > 200000.0)").as("n_big"),
        expr("""CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
             FILTER (WHERE o_orderpriority LIKE '%1%') AS DOUBLE)""")
          .as("urgent_total"))
        .orderBy("o_orderstatus"),
      """SELECT o_orderstatus,
           count(*) FILTER (WHERE o_totalprice > 200000.0) AS n_big,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
             FILTER (WHERE o_orderpriority LIKE '%1%') AS DOUBLE)
             AS urgent_total
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""),

    // JSON extraction (absent in reference)
    ContractQuery("q_json", (s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast(LongType).as("k_val"))
        .orderBy("event_id"),
      """SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
         FROM events ORDER BY event_id"""),

    // schema-full JSON parsing (from_json with an explicit schema — the
    // scale path: one parse to a typed struct vs per-path re-parsing)
    ContractQuery("q_from_json", (s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          from_json(col("props"), StructType(Seq(
            StructField("k", LongType)))).getField("k").as("k_val"))
        .orderBy("event_id"),
      """SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
         FROM events ORDER BY event_id"""),

    // map type: build from arrays, lookup, cardinality
    ContractQuery("q_map_funcs", (s, dir) =>
      t(s, dir, "nation")
        .select(col("n_nationkey"),
          map_from_arrays(
            array(lit("nation"), lit("region")),
            array(col("n_nationkey"), col("n_regionkey").cast(LongType)))
            .as("m"))
        .select(col("n_nationkey"),
          element_at(col("m"), "region").as("region_val"),
          size(col("m")).as("m_size"))
        .orderBy("n_nationkey"),
      """SELECT n_nationkey,
           map(['nation', 'region'],
               [CAST(n_nationkey AS BIGINT), CAST(n_regionkey AS BIGINT)])
             ['region'][1] AS region_val,
           CAST(cardinality(map(['nation', 'region'],
               [CAST(n_nationkey AS BIGINT), CAST(n_regionkey AS BIGINT)]))
             AS INTEGER) AS m_size
         FROM nation ORDER BY n_nationkey"""),

    // array functions: collect_set + sort (deterministic), size, element,
    // array_join (array itself serialized to CSV string — the driver's
    // pandas compare can't sort raw array cells)
    ContractQuery("q_array_funcs", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sort_array(collect_set(year(col("o_orderdate")))).as("yrs"))
        .select(col("o_custkey"),
          array_join(col("yrs").cast(ArrayType(StringType)), ",").as("yrs_csv"),
          size(col("yrs")).as("n_yrs"),
          element_at(col("yrs"), 1).as("first_yr"))
        .orderBy("o_custkey"),
      """SELECT o_custkey,
           array_to_string(list_sort(list_distinct(list(CAST(year(o_orderdate) AS INTEGER)))), ',') AS yrs_csv,
           CAST(length(list_sort(list_distinct(list(CAST(year(o_orderdate) AS INTEGER))))) AS INTEGER) AS n_yrs,
           CAST(list_sort(list_distinct(list(CAST(year(o_orderdate) AS INTEGER))))[1] AS INTEGER) AS first_yr
         FROM orders GROUP BY o_custkey ORDER BY o_custkey"""),

    // regex functions: extract + replace-all
    ContractQuery("q_regex", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          regexp_extract(col("text"), "^(\\S+)", 1).as("first_tok"),
          regexp_replace(substring(col("text"), 1, 40), "[aeiou]", "_").as("masked"))
        .orderBy("doc_id"),
      """SELECT doc_id,
           regexp_extract(text, '^(\S+)', 1) AS first_tok,
           regexp_replace(substr(text, 1, 40), '[aeiou]', '_', 'g') AS masked
         FROM documents ORDER BY doc_id"""),

    // stream-stream interval join (click -> views within 10 min), run on
    // the batch path; the same builder is watermark-bounded in streaming
    ContractQuery("q_interval_join", (s, dir) => {
      val ev = t(s, dir, "events")
      Streams.intervalJoin(ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "view"), "10 minutes")
        .orderBy("user_id", "l_id", "r_id")
    },
      """SELECT c.user_id, c.event_id AS l_id, v.event_id AS r_id,
           CAST(c.ts AS TIMESTAMP) AS l_ts, CAST(v.ts AS TIMESTAMP) AS r_ts
         FROM events c JOIN events v
           ON c.user_id = v.user_id
          AND CAST(v.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
          AND CAST(v.ts AS TIMESTAMP)
              <= CAST(c.ts AS TIMESTAMP) + INTERVAL 10 MINUTE
         WHERE c.event_type = 'click' AND v.event_type = 'view'
         ORDER BY c.user_id, l_id, r_id"""),

    // semi join (EXISTS) — absent in reference (JoinType has 2 variants,
    // ref: src/plan/logical/join.rs:14-17)
    ContractQuery("q_join_semi", (s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      c.join(o.filter(col("o_totalprice") > 300000.0),
          c("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    },
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
         ORDER BY c_custkey"""),

    // anti join (NOT EXISTS)
    ContractQuery("q_join_anti", (s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      c.join(o.filter(col("o_totalprice") > 300000.0),
          c("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    },
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
         ORDER BY c_custkey"""),

    // full outer join of two derived sides (padding on both sides)
    ContractQuery("q_join_full", (s, dir) => {
      val o = t(s, dir, "orders")
      val a = o.filter(col("o_totalprice") > 400000.0)
        .groupBy(col("o_custkey").as("ka")).agg(count(lit(1)).as("n_big"))
      val b = o.filter(col("o_orderpriority").like("%1%"))
        .groupBy(col("o_custkey").as("kb")).agg(count(lit(1)).as("n_pri"))
      a.join(b, a("ka") === b("kb"), "full")
        .select(coalesce(col("ka"), col("kb")).as("k"), col("n_big"), col("n_pri"))
        .orderBy("k")
    },
      """SELECT coalesce(a.ka, b.kb) AS k, a.n_big, b.n_pri
         FROM (SELECT o_custkey AS ka, count(*) AS n_big FROM orders
               WHERE o_totalprice > 400000.0 GROUP BY 1) a
         FULL JOIN (SELECT o_custkey AS kb, count(*) AS n_pri FROM orders
               WHERE o_orderpriority LIKE '%1%' GROUP BY 1) b
           ON a.ka = b.kb
         ORDER BY k"""),

    // ROLLUP subtotals (grouping sets family — absent in reference).
    // Written single-phase on purpose: the injected optimizer rule
    // graft.plans.PreAggGroupingSets rewrites it to pre-aggregate before
    // the Expand, so grouping-set expansion replicates |distinct groups|
    // rows instead of the full fact table. The oracle verifies the
    // rule-rewritten plan produces the single-phase SQL result.
    ContractQuery("q_rollup", (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first),
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""),

    // HAVING (post-aggregation filter)
    ContractQuery("q_having", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .filter(col("n") >= 18)
        .orderBy("o_custkey"),
      """SELECT o_custkey, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
         FROM orders GROUP BY o_custkey HAVING count(*) >= 18
         ORDER BY o_custkey"""),

    // scalar subquery (absent in reference — sql/expr.rs:120-124 rejects)
    ContractQuery("q_subquery_scalar", (s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_totalprice > 1.9 * (
          SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / count(*)
          FROM orders)
        ORDER BY o_orderkey""")
    },
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_totalprice > 1.9 * (
           SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / count(*)
           FROM orders)
         ORDER BY o_orderkey"""),

    // correlated EXISTS subquery
    ContractQuery("q_subquery_exists", (s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        SELECT p_partkey, p_name FROM part
        WHERE EXISTS (SELECT 1 FROM lineitem
                      WHERE l_partkey = p_partkey AND l_quantity > 49.0)
        ORDER BY p_partkey""")
    },
      """SELECT p_partkey, p_name FROM part
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_partkey = p_partkey AND l_quantity > 49.0)
         ORDER BY p_partkey"""),

    // as-of join (custom operator — union + running-last formulation,
    // graft.operators.Relational.asofJoin; oracle is DuckDB native ASOF)
    ContractQuery("q_asof", (s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "ts", "user_id")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("p_event_id"), col("value").as("p_value"))
      Relational.asofJoin(clicks, purchases, "user_id", "ts", "ts",
          Seq("p_event_id", "p_value"))
        .select("event_id", "user_id", "p_event_id", "p_value")
        .orderBy("event_id")
    },
      """SELECT c.event_id, c.user_id, p.p_event_id, p.p_value
         FROM (SELECT event_id, ts, user_id FROM events
               WHERE event_type = 'click') c
         ASOF LEFT JOIN (SELECT user_id AS pu, ts AS pts,
                 event_id AS p_event_id, value AS p_value FROM events
               WHERE event_type = 'purchase') p
           ON c.user_id = p.pu AND c.ts >= p.pts
         ORDER BY c.event_id"""),

    // forward as-of join: nearest right row AT-or-AFTER the left time
    // (e.g. "next purchase after each click")
    ContractQuery("q_asof_forward", (s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "ts", "user_id")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("p_event_id"), col("value").as("p_value"))
      Relational.asofJoin(clicks, purchases, "user_id", "ts", "ts",
          Seq("p_event_id", "p_value"), direction = "forward")
        .select("event_id", "user_id", "p_event_id", "p_value")
        .orderBy("event_id")
    },
      """SELECT c.event_id, c.user_id, p.p_event_id, p.p_value
         FROM (SELECT event_id, ts, user_id FROM events
               WHERE event_type = 'click') c
         ASOF LEFT JOIN (SELECT user_id AS pu, ts AS pts,
                 event_id AS p_event_id, value AS p_value FROM events
               WHERE event_type = 'purchase') p
           ON c.user_id = p.pu AND c.ts <= p.pts
         ORDER BY c.event_id"""),

    // CDC upsert (MERGE): apply the order stream as changes to a customer
    // snapshot — latest order per customer updates the balance (partial
    // update: name/segment survive), orders for customers missing from the
    // snapshot insert, and a latest order in status 'P' deletes. The
    // latest-per-key step is a map-side-combinable max(struct) aggregate,
    // not a window (operators/Relational.upsert).
    ContractQuery("q_upsert", (s, dir) => {
      val base = t(s, dir, "customer")
        .filter(col("c_custkey") % 7 =!= 0)
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
      val changes = t(s, dir, "orders").select(
        col("o_custkey").as("c_custkey"),
        col("o_totalprice").as("c_acctbal"),
        col("o_orderdate"), col("o_orderkey"), col("o_orderstatus"))
      Relational.upsert(base, changes, "c_custkey",
          versionCols = Seq("o_orderdate", "o_orderkey"), partial = true,
          deleteWhen = Some(changes("o_orderstatus") === "P"))
        .orderBy("c_custkey")
    },
      """WITH base AS (
           SELECT c_custkey, c_name, c_mktsegment, c_acctbal
           FROM customer WHERE c_custkey % 7 <> 0
         ), latest AS (
           SELECT o_custkey AS k, o_totalprice AS new_bal,
                  (o_orderstatus = 'P') AS del
           FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
                 FROM orders)
           WHERE rn = 1
         )
         SELECT COALESCE(b.c_custkey, l.k) AS c_custkey,
                b.c_name AS c_name,
                b.c_mktsegment AS c_mktsegment,
                CASE WHEN l.k IS NOT NULL THEN COALESCE(l.new_bal, b.c_acctbal)
                     ELSE b.c_acctbal END AS c_acctbal
         FROM base b FULL OUTER JOIN latest l ON b.c_custkey = l.k
         WHERE l.k IS NULL OR NOT l.del
         ORDER BY c_custkey"""),

    // skew-salted join (the explicit skew tool beyond AQE): result is
    // salt-independent, so the oracle is the plain join — verifying the
    // rewrite preserves join semantics
    ContractQuery("q_salted_join", (s, dir) => {
      val l = t(s, dir, "lineitem")
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"))
      // bucket count sizes to the measured skew: enough replicas to spread
      // the hottest key, no more — each bucket replicates the right side
      Relational.saltedJoin(l, o, ("l_orderkey", "o_orderkey"), saltBuckets = 4)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("o_orderstatus")
    },
      """SELECT o_orderstatus, count(*) AS n,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             AS sum_price
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderstatus ORDER BY o_orderstatus"""),

    // join strategy hints (plan control surface; result is hint-independent)
    ContractQuery("q_join_hint", (s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        SELECT /*+ MERGE(orders) */ o_orderstatus, count(*) AS n
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    },
      """SELECT o_orderstatus, count(*) AS n
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderstatus ORDER BY o_orderstatus"""),

    // union by column NAME (schema-aligned union, not positional)
    ContractQuery("q_union_by_name", (s, dir) => {
      val a = t(s, dir, "customer")
        .select(col("c_custkey").as("k"), col("c_name").as("nm"))
      val b = t(s, dir, "supplier")
        .select(col("s_name").as("nm"), col("s_suppkey").as("k"))
      a.unionByName(b).orderBy("k", "nm")
    },
      """SELECT c_custkey AS k, c_name AS nm FROM customer
         UNION ALL
         SELECT s_suppkey AS k, s_name AS nm FROM supplier
         ORDER BY k, nm"""),

    // nested struct build + field access
    ContractQuery("q_struct_nested", (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          struct(col("o_custkey").as("c"), col("o_totalprice").as("p")).as("st"))
        .select(col("o_orderkey"), col("st.c").as("cust"),
          (col("st.p") * 2).as("double_price"))
        .orderBy("o_orderkey"),
      """SELECT o_orderkey,
           struct_pack(c := o_custkey, p := o_totalprice).c AS cust,
           struct_pack(c := o_custkey, p := o_totalprice).p * 2
             AS double_price
         FROM orders ORDER BY o_orderkey"""),

    // window: lag/lead/dense_rank/ntile/first_value (value-offset family)
    ContractQuery("q_window_lag", (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wd = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"))
      t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        dense_rank().over(wd).cast(LongType).as("date_rank"),
        ntile(4).over(w).cast(LongType).as("quartile"),
        first(col("o_totalprice")).over(w).as("first_price"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey,
           lag(o_totalprice, 1) OVER w AS prev_price,
           lead(o_totalprice, 1) OVER w AS next_price,
           CAST(dense_rank() OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate) AS BIGINT) AS date_rank,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           first_value(o_totalprice) OVER w AS first_price
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, o_orderkey"""),

    // window: RANGE frame (value-based window extent, not row counts).
    // Partitioned by the high-cardinality customer key — a low-cardinality
    // partition key (e.g. the 3-value order status) would serialize the
    // whole table into 3 window tasks at any scale.
    ContractQuery("q_window_range", (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderkey"))
        .rangeBetween(-1000L, Window.currentRow)
      t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
        sum(dec2(col("o_totalprice"))).over(w).cast(DoubleType).as("near_total"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderkey
             RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS near_total
         FROM orders ORDER BY o_custkey, o_orderkey"""),

    // CUBE with grouping() disambiguation of subtotal rows (single-phase;
    // PreAggGroupingSets pre-aggregates below the Expand — see q_rollup)
    ContractQuery("q_cube", (s, dir) =>
      t(s, dir, "lineitem").cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"),
          (grouping(col("l_returnflag")).cast(LongType) * 2 +
            grouping(col("l_linestatus")).cast(LongType)).as("gid"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first),
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(grouping(l_returnflag) AS BIGINT) * 2 +
             CAST(grouping(l_linestatus) AS BIGINT) AS gid
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY gid, l_returnflag ASC NULLS FIRST,
           l_linestatus ASC NULLS FIRST"""),

    // explicit GROUPING SETS (the general form ROLLUP/CUBE special-case),
    // via the SQL front door; same injected-rule pre-aggregation
    ContractQuery("q_grouping_sets", (s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        SELECT l_returnflag, l_linestatus, count(*) AS n,
          CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")
    },
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""),

    // UNPIVOT/melt: wide metric columns → long (metric, value) rows
    ContractQuery("q_unpivot", (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_quantity"), col("l_discount"), col("l_tax"))
        .unpivot(Array.empty[Column],
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "metric", "value")
        .groupBy(col("metric"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy("metric"),
      """SELECT metric, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
         FROM (SELECT l_quantity, l_discount, l_tax FROM lineitem)
           UNPIVOT (value FOR metric IN (l_quantity, l_discount, l_tax))
         GROUP BY metric ORDER BY metric"""),

    // explode/lateral view: tokenize text → per-word counts (top-20)
    ContractQuery("q_explode", (s, dir) =>
      t(s, dir, "documents")
        .select(explode(split(lower(col("text")), "\\s+")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word").asc)
        .limit(20),
      """WITH words AS (
           SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS word
           FROM documents)
         SELECT word, count(*) AS n FROM words WHERE word <> ''
         GROUP BY word ORDER BY n DESC, word ASC LIMIT 20"""),

    // range (interval-bucket) join: broadcast nested-loop on [lo,hi) bins
    ContractQuery("q_range_join", (s, dir) => {
      val sp = s; import sp.implicits._
      val buckets = Seq((0.0, 10.0, "q1_small"), (10.0, 25.0, "q2_mid"),
        (25.0, 40.0, "q3_large"), (40.0, 1000000000.0, "q4_huge"))
        .toDF("lo", "hi", "label")
      Relational.rangeJoin(t(s, dir, "lineitem"), buckets,
          col("l_quantity"), col("lo"), col("hi"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("label")
    },
      """WITH buckets(lo, hi, label) AS (VALUES
           (0.0, 10.0, 'q1_small'), (10.0, 25.0, 'q2_mid'),
           (25.0, 40.0, 'q3_large'), (40.0, 1000000000.0, 'q4_huge'))
         SELECT label, count(*) AS n,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             AS sum_price
         FROM lineitem JOIN buckets ON l_quantity >= lo AND l_quantity < hi
         GROUP BY label ORDER BY label"""),

    // binned range join: same result as q_range_join (shared oracle) but
    // planned as an equi-join on bin id + residual filter — the
    // hash-partitionable shape that survives when BOTH sides are large
    // and a broadcast nested loop cannot run
    ContractQuery("q_range_join_binned", (s, dir) => {
      val sp = s; import sp.implicits._
      val buckets = Seq((0.0, 10.0, "q1_small"), (10.0, 25.0, "q2_mid"),
        (25.0, 40.0, "q3_large"), (40.0, 1000000000.0, "q4_huge"))
        .toDF("lo", "hi", "label")
      Relational.binnedRangeJoin(t(s, dir, "lineitem"), buckets,
          col("l_quantity"), col("lo"), col("hi"),
          binWidth = 10.0, maxValue = 100.0)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("label")
    },
      // identical result to q_range_join by construction (each matching
      // pair meets in exactly one bin — the point's), so the twin is shared
      """WITH buckets(lo, hi, label) AS (VALUES
           (0.0, 10.0, 'q1_small'), (10.0, 25.0, 'q2_mid'),
           (25.0, 40.0, 'q3_large'), (40.0, 1000000000.0, 'q4_huge'))
         SELECT label, count(*) AS n,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             AS sum_price
         FROM lineitem JOIN buckets ON l_quantity >= lo AND l_quantity < hi
         GROUP BY label ORDER BY label"""),

    // correlated LATERAL subquery (top-n per group via join-side subquery)
    ContractQuery("q_lateral", (s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        SELECT n_name, t.c_name, t.c_acctbal
        FROM nation, LATERAL (
          SELECT c_name, c_acctbal FROM customer
          WHERE c_nationkey = n_nationkey
          ORDER BY c_acctbal DESC, c_name LIMIT 2) t
        ORDER BY n_name, c_acctbal DESC, c_name""")
    },
      """SELECT n_name, t.c_name, t.c_acctbal
         FROM nation, LATERAL (
           SELECT c_name, c_acctbal FROM customer
           WHERE c_nationkey = n_nationkey
           ORDER BY c_acctbal DESC, c_name LIMIT 2) t
         ORDER BY n_name, c_acctbal DESC, c_name"""),

    // date-spine pattern: generated calendar left-joined to daily facts
    ContractQuery("q_date_spine", (s, dir) => {
      val o = t(s, dir, "orders")
      val bounds = o.agg(to_date(min(col("o_orderdate"))).as("d0"),
        to_date(max(col("o_orderdate"))).as("d1"))
      val days = bounds
        .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val daily = o.groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n_orders"))
      days.join(daily, Seq("day"), "left")
        .agg(count(lit(1)).as("n_days"),
          count(col("n_orders")).as("n_days_with_orders"),
          (count(lit(1)) - count(col("n_orders"))).as("n_gap_days"))
    },
      """WITH b AS (SELECT CAST(min(o_orderdate) AS DATE) AS d0,
             CAST(max(o_orderdate) AS DATE) AS d1 FROM orders),
         days AS (SELECT CAST(unnest(generate_series(
             CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
             INTERVAL 1 DAY)) AS DATE) AS day FROM b),
         daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
             count(*) AS n_orders FROM orders GROUP BY 1)
         SELECT count(*) AS n_days, count(n_orders) AS n_days_with_orders,
           count(*) - count(n_orders) AS n_gap_days
         FROM days LEFT JOIN daily USING (day)"""),

    // expression-level IN / NOT IN subqueries
    ContractQuery("q_subquery_in", (s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        SELECT c_custkey, c_name FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders
                            WHERE o_totalprice > 400000.0)
          AND c_custkey NOT IN (SELECT o_custkey FROM orders
                                WHERE o_orderpriority LIKE '%5%')
        ORDER BY c_custkey""")
    },
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders
                             WHERE o_totalprice > 400000.0)
           AND c_custkey NOT IN (SELECT o_custkey FROM orders
                                 WHERE o_orderpriority LIKE '%5%')
         ORDER BY c_custkey"""),

    // string manipulation: pad/reverse/replace/position/split_part/repeat
    ContractQuery("q_string_pad", (s, dir) =>
      t(s, dir, "nation").select(col("n_nationkey"),
        lpad(col("n_name"), 12, "*").as("padded_l"),
        rpad(col("n_name"), 12, "*").as("padded_r"),
        reverse(col("n_name")).as("rev_name"),
        expr("replace(n_name, 'NATION', 'NAT')").as("shortened"),
        locate("_", col("n_name")).cast(IntegerType).as("sep_pos"),
        element_at(split(col("n_name"), "_"), 2).as("num_part"),
        repeat(col("n_name"), 2).as("doubled"))
        .orderBy("n_nationkey"),
      """SELECT n_nationkey,
           lpad(n_name, 12, '*') AS padded_l,
           rpad(n_name, 12, '*') AS padded_r,
           reverse(n_name) AS rev_name,
           replace(n_name, 'NATION', 'NAT') AS shortened,
           CAST(strpos(n_name, '_') AS INTEGER) AS sep_pos,
           split_part(n_name, '_', 2) AS num_part,
           repeat(n_name, 2) AS doubled
         FROM nation ORDER BY n_nationkey"""),

    // boolean/conditional aggregates: count_if, bool_and/or, min_by/max_by
    ContractQuery("q_agg_bool", (s, dir) =>
      t(s, dir, "orders").groupBy(col("o_orderstatus")).agg(
        expr("count_if(o_totalprice > 200000.0)").as("n_big"),
        expr("bool_and(o_totalprice > 0.0)").as("all_positive"),
        expr("bool_or(o_orderpriority LIKE '%1%')").as("any_urgent"),
        expr("max_by(o_custkey, o_orderkey)").as("latest_cust"),
        expr("min_by(o_custkey, o_orderkey)").as("first_cust"))
        .orderBy("o_orderstatus"),
      """SELECT o_orderstatus,
           CAST(count_if(o_totalprice > 200000.0) AS BIGINT) AS n_big,
           bool_and(o_totalprice > 0.0) AS all_positive,
           bool_or(o_orderpriority LIKE '%1%') AS any_urgent,
           max_by(o_custkey, o_orderkey) AS latest_cust,
           min_by(o_custkey, o_orderkey) AS first_cust
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""),

    // sliding event-time windows (overlapping buckets; batch form of the
    // streaming operator — every event lands in length/slide windows)
    ContractQuery("q_sliding_window", (s, dir) =>
      Streams.slidingCounts(t(s, dir, "events"), "1 hour", "15 minutes")
        .orderBy("w_start", "event_type"),
      """WITH hits AS (
           SELECT make_timestamp(((epoch_ms(ts) // 900000) - k.k)
               * 900000 * 1000) AS w_start,
             event_type
           FROM events, (SELECT unnest(generate_series(0, 3)) AS k) k)
         SELECT w_start, w_start + INTERVAL 1 HOUR AS w_end, event_type,
           count(*) AS n_events
         FROM hits GROUP BY w_start, event_type
         ORDER BY w_start, event_type"""),

    // window-function completeness: percent_rank / cume_dist / nth_value
    // over the deterministic per-customer ordering (q_window_lag covers
    // lag/lead/ntile/first_value; both windows partitioned, never global)
    ContractQuery("q_window_stats", (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      val wf = w.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"),
          nth_value(col("o_orderkey"), 2).over(wf).as("second_best"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey
             ORDER BY o_totalprice DESC, o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS second_best
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey
           ORDER BY o_totalprice DESC, o_orderkey ASC)
         ORDER BY o_custkey, o_orderkey"""),

    // incremental view maintenance of an inner equi-join: old view plus
    // the IVM delta (ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB) must equal the full
    // recompute — the oracle IS the recompute, so the delta algebra is
    // what's being checked. Aggregated per priority to compare compactly.
    ContractQuery("q_incremental_join", (s, dir) => {
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      val oBase = o.filter(col("o_orderkey") % 5 =!= 0)
      val oDelta = o.filter(col("o_orderkey") % 5 === 0)
      val lBase = l.filter(col("l_linenumber") % 3 =!= 0)
      val lDelta = l.filter(col("l_linenumber") % 3 === 0)
      val oldView = oBase.join(lBase, col("o_orderkey") === col("l_orderkey"))
      val delta = graft.operators.Relational.incrementalJoinDelta(
        oBase, oDelta, lBase, lDelta, "o_orderkey", "l_orderkey")
      oldView.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
          expr("CAST(sum(CAST(l_quantity AS DECIMAL(22,2))) AS DOUBLE)")
            .as("sum_qty"))
        .orderBy("o_orderpriority")
    },
      // the full recompute the IVM delta must reproduce
      """SELECT o_orderpriority, count(*) AS n_rows,
           CAST(sum(CAST(l_quantity AS DECIMAL(22,2))) AS DOUBLE) AS sum_qty
         FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         GROUP BY 1 ORDER BY 1"""),

    // re-aggregation cascade: daily totals computed FROM the hourly
    // pre-aggregates (sum of sums, sum of counts), never re-reading raw
    // events — the multi-granularity rollup a cube serves from; the
    // oracle computes daily directly from raw, so the cascade's
    // re-aggregability is what's hash-checked
    ContractQuery("q_reagg_cascade", (s, dir) => {
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(22, 2))).as("sum_v"))
      hourly
        .groupBy(col("event_type"), date_trunc("day", col("hour")).as("day"))
        .agg(sum(col("n")).cast(LongType).as("n"),
          expr("CAST(CAST(sum(sum_v) AS DECIMAL(22,2)) AS DOUBLE)")
            .as("sum_value"))
        .orderBy("event_type", "day")
    },
      // the direct daily aggregate the hourly cascade must reproduce
      """SELECT event_type, date_trunc('day', ts) AS day,
           CAST(count(*) AS BIGINT) AS n,
           CAST(CAST(sum(CAST(value AS DECIMAL(22,2))) AS DECIMAL(22,2))
             AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY event_type, day"""),

    // temporal dimension lookup: each purchase joined to the SCD2
    // history row valid AT purchase time (valid_from <= ts < valid_to) —
    // equi-join on the key with the interval as residual, bounded per-key
    ContractQuery("q_scd_lookup", (s, dir) => {
      val ev = t(s, dir, "events")
      val hist = graft.operators.Scd.buildHistory(ev, "user_id", "ts",
        "event_id", Seq("event_type", "value"))
      val facts = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("fact_id"), col("user_id"),
          col("ts").as("fact_ts"))
      graft.operators.Scd.lookupAsOf(hist, facts, "user_id", "fact_ts")
        .select(col("fact_id"), col("user_id"), col("fact_ts"),
          col("change_id"), col("event_type").as("state_type"),
          col("value").as("state_value"))
        .orderBy("fact_id")
    },
      // q_scd2's history CTE + the interval-containment probe
      """WITH hist AS (
           SELECT user_id, event_type, value, ts AS valid_from,
             event_id AS change_id,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to
           FROM events),
         f AS (SELECT event_id AS fact_id, user_id, ts AS fact_ts
           FROM events WHERE event_type = 'purchase')
         SELECT f.fact_id, f.user_id, f.fact_ts, h.change_id,
           h.event_type AS state_type, h.value AS state_value
         FROM f LEFT JOIN hist h ON h.user_id = f.user_id
           AND h.valid_from <= f.fact_ts
           AND (h.valid_to IS NULL OR f.fact_ts < h.valid_to)
         ORDER BY fact_id"""),

    // SCD2 dimension history: build versioned history from the pre-cutoff
    // change log, then incrementally apply the post-cutoff delta — closed
    // rows pass through without re-windowing (the 100 TB-relevant property:
    // apply cost is O(delta), not O(history))
    ContractQuery("q_scd2", (s, dir) => {
      val ev = t(s, dir, "events")
      val cutoff = lit("2024-01-16").cast(TimestampType)
      val attrs = Seq("event_type", "value")
      val history = graft.operators.Scd.buildHistory(
        ev.filter(col("ts") < cutoff), "user_id", "ts", "event_id", attrs)
      graft.operators.Scd.applyChanges(history,
          ev.filter(col("ts") >= cutoff), "user_id", "ts", "event_id", attrs)
        .withColumn("is_current", col("valid_to").isNull)
        .orderBy("user_id", "valid_from", "change_id")
    },
      // the incremental apply equals one global lead() pass whenever the
      // cutoff splits each key's timeline (it does: ts < vs >= literal)
      """SELECT user_id, event_type, value, ts AS valid_from,
           event_id AS change_id,
           lead(ts) OVER w AS valid_to,
           (lead(ts) OVER w IS NULL) AS is_current
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ORDER BY user_id, valid_from, change_id"""),

    // snapshot diff: classify every order key across two table versions
    // (before/after are deterministic date slices of orders; urgent
    // orders get a price bump in the "after" version so all three change
    // classes appear). One full-outer join on the key — at 100 TB both
    // snapshots are bucketed on the key so the join co-locates.
    ContractQuery("q_table_diff", (s, dir) => {
      val o = t(s, dir, "orders")
      val before = o.filter(col("o_orderdate") < lit("1999-01-01").cast(TimestampType))
      val after = o.filter(col("o_orderdate") >= lit("1996-01-01").cast(TimestampType))
        .withColumn("o_totalprice",
          when(col("o_orderpriority") === "1-URGENT", col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")))
      Relational.snapshotDiff(before, after, Seq("o_orderkey"),
          Seq("o_totalprice", "o_orderstatus"))
        .filter(col("change_type") =!= "unchanged")
        .orderBy("o_orderkey")
    },
      """WITH b AS (SELECT o_orderkey, o_totalprice, o_orderstatus
             FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'),
         a AS (SELECT o_orderkey,
             CASE WHEN o_orderpriority = '1-URGENT'
               THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
             o_orderstatus
           FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'),
         d AS (SELECT coalesce(b.o_orderkey, a.o_orderkey) AS o_orderkey,
             CASE WHEN b.o_orderkey IS NULL THEN 'added'
                  WHEN a.o_orderkey IS NULL THEN 'deleted'
                  WHEN b.o_totalprice IS DISTINCT FROM a.o_totalprice
                    OR b.o_orderstatus IS DISTINCT FROM a.o_orderstatus
                    THEN 'changed'
                  ELSE 'unchanged' END AS change_type
           FROM b FULL OUTER JOIN a ON b.o_orderkey = a.o_orderkey)
         SELECT o_orderkey, change_type FROM d
         WHERE change_type <> 'unchanged'
         ORDER BY o_orderkey"""),

    // incremental aggregate maintenance (materialized-view refresh): the
    // maintained state = agg(old slice) ⊕ agg(new slice), merged by
    // addition on (DECIMAL sum, count) — refresh cost scales with the
    // delta, never the corpus. The oracle recomputes the SAME aggregate
    // from the full table, proving state ⊕ delta ≡ full recompute
    // (avg derived at read time from the exact decimal sum).
    ContractQuery("q_incremental_agg", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val cut = lit("1998-01-01").cast(TimestampType)
      val keys = Seq("l_returnflag", "l_linestatus")
      val state = Relational.aggState(
        li.filter(col("l_shipdate") < cut), keys, "l_extendedprice")
      val delta = Relational.aggState(
        li.filter(col("l_shipdate") >= cut), keys, "l_extendedprice")
      Relational.mergeAggState(state, delta, keys)
        .select(col("l_returnflag"), col("l_linestatus"),
          col("agg_sum").cast(DoubleType).as("sum_price"),
          col("agg_cnt").as("n"),
          (col("agg_sum").cast(DoubleType) / col("agg_cnt")).as("avg_price"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      // the full recompute the incremental merge must equal
      """SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(22,2))) AS DOUBLE) AS sum_price,
           count(l_extendedprice) AS n,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(22,2))) AS DOUBLE)
             / count(l_extendedprice) AS avg_price
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus"""),

    // exact equi-join cardinality from per-key histograms, validated
    // in-query against the materialized join — the pre-shuffle planning
    // primitive (broadcast vs SMJ vs salt) exercised as a contract
    ContractQuery("q_join_size", (s, dir) => {
      val est = graft.functions.Profile.joinCardinality(
          t(s, dir, "orders"), "o_orderkey",
          t(s, dir, "lineitem"), "l_orderkey")
        .agg(count(lit(1)).as("n_keys"), sum(col("rows_out")).as("est_rows"),
          max(col("rows_out")).as("max_key_rows"))
      val actual = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .agg(count(lit(1)).as("actual_rows"))
      est.crossJoin(actual)
        .select(col("n_keys"), col("est_rows").cast(LongType).as("est_rows"),
          col("max_key_rows"), col("actual_rows"),
          (col("est_rows") === col("actual_rows")).as("exact_match"))
    },
      // histogram product vs the materialized join, both exact
      """WITH ha AS (SELECT o_orderkey AS key, count(*) AS n_a FROM orders
           GROUP BY 1),
         hb AS (SELECT l_orderkey AS key, count(*) AS n_b FROM lineitem
           GROUP BY 1),
         j AS (SELECT ha.key, n_a * n_b AS rows_out
           FROM ha JOIN hb USING (key)),
         s AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(rows_out) AS BIGINT) AS est_rows,
             CAST(max(rows_out) AS BIGINT) AS max_key_rows
           FROM j),
         a AS (SELECT CAST(count(*) AS BIGINT) AS actual_rows
           FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey)
         SELECT s.n_keys, s.est_rows, s.max_key_rows, a.actual_rows,
           s.est_rows = a.actual_rows AS exact_match
         FROM s, a""")
  )
}
