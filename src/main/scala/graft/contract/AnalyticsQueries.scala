package graft
package contract

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.Streams

import Shared._

/** Analytics and statistics over orders, lineitem and events. */
object AnalyticsQueries {

  val queries: Seq[ContractQuery] = Seq(
    // exact percentiles (absent in reference — no median/percentiles
    // §2.5) via distributed rank selection: Spark's exact `percentile`
    // aggregate buffers the WHOLE group in one ObjectHashAggregate state
    // (OOM once a group outgrows an executor); exactPercentiles keeps
    // memory flat with range-bucketed spillable sorts + prefix offsets
    ContractQuery("q_percentile", (s, dir) =>
      graft.operators.Analytics.exactPercentiles(
          t(s, dir, "orders"), Seq("o_orderpriority"), "o_totalprice",
          Seq(("p50", 0.5), ("p90", 0.9)), countCol = Some("n"))
        .orderBy("o_orderpriority"),
      """SELECT o_orderpriority,
           quantile_cont(o_totalprice, 0.5) AS p50,
           quantile_cont(o_totalprice, 0.9) AS p90,
           count(*) AS n
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),

    // 5%-trimmed mean per priority — the robust location estimate next
    // to q_winsorize's clamp; rank-selected middle via rankedByGroup
    // (flat memory), DECIMAL-exact sum, one double division
    ContractQuery("q_trimmed_mean", (s, dir) =>
      graft.operators.Analytics.trimmedMean(
          t(s, dir, "orders"), Seq("o_orderpriority"), "o_totalprice",
          trim = 0.05)
        .orderBy("o_orderpriority"),
      // rank window replay; ties at the cut are value-equal so the kept
      // multiset (and the DECIMAL sum) is deterministic
      """WITH r AS (SELECT o_orderpriority, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice) AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY o_orderpriority)
               AS BIGINT) AS n
           FROM orders),
         f AS (SELECT * FROM r
           WHERE rn > floor(CAST(n AS DOUBLE) * CAST(0.05 AS DOUBLE))
             AND rn <= n - floor(CAST(n AS DOUBLE) * CAST(0.05 AS DOUBLE)))
         SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_used,
           CAST(sum(CAST(o_totalprice AS DECIMAL(22,2))) AS DOUBLE) /
             CAST(count(*) AS DOUBLE) AS mean
         FROM f GROUP BY 1 ORDER BY 1"""),

    // decile summary table (score-calibration report): bucket by exact
    // rank — decile = (rn−1)·10 div n from the flat-memory rank spine,
    // NOT ntile over an unpartitioned window. Counts are rank-determined
    // and boundary ties are value-equal, so min/max/sum hash exactly
    ContractQuery("q_deciles", (s, dir) => {
      val r = graft.operators.Analytics.rankedByGroup(
        t(s, dir, "orders"), Nil, "o_totalprice")
      r.select(expr("((__rn - 1) * 10) div __n").as("decile"), col("__v"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_rows"), min(col("__v")).as("lo"),
          max(col("__v")).as("hi"),
          expr("CAST(sum(CAST(__v AS DECIMAL(22,2))) AS DOUBLE)")
            .as("sum_price"))
        .orderBy("decile")
    },
      """WITH r AS (SELECT o_totalprice AS v,
             CAST(row_number() OVER (ORDER BY o_totalprice) AS BIGINT)
               AS rn,
             CAST(count(*) OVER () AS BIGINT) AS n
           FROM orders)
         SELECT CAST(((rn - 1) * 10) // n AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n_rows, min(v) AS lo, max(v) AS hi,
           CAST(sum(CAST(v AS DECIMAL(22,2))) AS DOUBLE) AS sum_price
         FROM r GROUP BY 1 ORDER BY 1"""),

    // sketch aggregates: t-digest approximate percentiles. The sketch
    // estimate is engine-specific, so it never enters the hashed output:
    // the contract emits the exact median plus an in-query within_bound
    // boolean (approx between exact p45 and p55 — the SketchSpec bound),
    // and the DuckDB twin computes the exact side and expects `true`.
    ContractQuery("q_approx_percentile", (s, dir) => {
      val o = t(s, dir, "orders")
      val approx = o.groupBy(col("o_orderpriority"))
        .agg(expr("approx_percentile(o_totalprice, 0.5, 1000)")
          .as("p50_approx"))
      // the exact comparison band comes from the flat-memory rank
      // selection, not the O(group)-state exact percentile aggregate
      val exact = graft.operators.Analytics.exactPercentiles(
        o, Seq("o_orderpriority"), "o_totalprice",
        Seq(("p45_exact", 0.45), ("p50_exact", 0.5), ("p55_exact", 0.55)),
        countCol = Some("n"))
      approx.join(exact, "o_orderpriority")
        .select(col("o_orderpriority"), col("p50_exact"), col("n"),
          (col("p50_approx") >= col("p45_exact") &&
            col("p50_approx") <= col("p55_exact")).as("within_bound"))
        .orderBy("o_orderpriority")
    },
      // Sketch twins: the engine-specific estimate never enters the hash —
      // the twin recomputes the exact side and expects within_bound = true
      // (the engine computed the boolean in-query against its own sketch).
      """SELECT o_orderpriority,
           quantile_cont(o_totalprice, 0.5) AS p50_exact,
           count(*) AS n,
           true AS within_bound
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),

    // sketch aggregates: HLL approximate distinct. Same oracle shape:
    // emit the exact count plus within_bound = |approx-exact| <= 3*rsd*exact
    // (default rsd 0.05 → 15%); the DuckDB twin recomputes the exact side.
    ContractQuery("q_approx_distinct", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_orderkey")).as("approx_orders"),
          countDistinct(col("l_orderkey")).as("exact_orders"))
        .select(col("l_returnflag"), col("exact_orders"),
          (abs(col("approx_orders").cast(DoubleType) -
              col("exact_orders").cast(DoubleType)) <=
            lit(0.15) * col("exact_orders").cast(DoubleType)).as("within_bound"))
        .orderBy("l_returnflag"),
      """SELECT l_returnflag,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           true AS within_bound
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // tumbling event-time window aggregation (batch form of the
    // streaming operator in graft.streaming.Streams)
    ContractQuery("q_events_hourly", (s, dir) =>
      Streams.hourlyTypeCounts(t(s, dir, "events"))
        .orderBy("hour_start", "event_type"),
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
           event_type, count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type"""),

    // session windows (dynamic-length event-time windows)
    ContractQuery("q_session_window", (s, dir) =>
      Streams.userSessions(t(s, dir, "events"), gap = "30 minutes")
        .orderBy("user_id", "session_start_ms"),
      """WITH marked AS (
           SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                    > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_sess
           FROM events),
         numbered AS (
           SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS sess_id
           FROM marked)
         SELECT user_id,
           CAST(epoch_ms(min(ts)) AS BIGINT) AS session_start_ms,
           count(*) AS n_events
         FROM numbered GROUP BY user_id, sess_id
         ORDER BY user_id, session_start_ms"""),

    // stateful sessionization (flatMapGroupsWithState, batch mode): one row
    // per gap-closed session — oracle is the SQL gaps-and-islands twin
    ContractQuery("q_sessionize", (s, dir) => {
      val sp = s; import sp.implicits._
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value")).as[Streams.Event]
      Streams.sessionize(ev).toDF().orderBy("user_id", "session_start_ms")
    },
      """WITH marked AS (
           SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
           FROM events),
         numbered AS (
           SELECT user_id, ts, value,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS sess_id
           FROM marked)
         SELECT user_id,
           CAST(epoch_ms(min(ts)) AS BIGINT) AS session_start_ms,
           CAST(epoch_ms(max(ts)) AS BIGINT) AS session_end_ms,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM numbered GROUP BY user_id, sess_id
         ORDER BY user_id, session_start_ms"""),

    // statistical aggregates (variance/stddev/covariance/correlation) via
    // exact DECIMAL moment sums + a shared closed-form in DOUBLE — order-
    // independent and bit-identical across engines, unlike the built-in
    // streaming-variance aggregates whose partial-merge order varies
    ContractQuery("q_stats_agg", (s, dir) => {
      val agg = t(s, dir, "lineitem").groupBy(col("l_returnflag")).agg(
        count(col("l_quantity")).as("n"),
        sum(dec2(col("l_quantity"))).cast(DoubleType).as("s_q"),
        sum(dec2(col("l_quantity")) * dec2(col("l_quantity")))
          .cast(DoubleType).as("ss_q"),
        sum(dec2(col("l_extendedprice"))).cast(DoubleType).as("s_p"),
        sum(dec2(col("l_extendedprice")) * dec2(col("l_extendedprice")))
          .cast(DoubleType).as("ss_p"),
        sum(dec2(col("l_quantity")) * dec2(col("l_extendedprice")))
          .cast(DoubleType).as("s_qp"))
      val n = col("n").cast(DoubleType)
      // derived metrics rounded to 9 dp: the moments are exact, but the
      // final double expression can differ by 1 ULP across engines (FP
      // contraction in x/sqrt(a*b))
      agg.select(col("l_returnflag"), col("n"),
        round(col("s_q") / n, 9).as("mean_qty"),
        round((col("ss_q") - col("s_q") * col("s_q") / n) / (n - 1), 9)
          .as("var_qty"),
        round(sqrt((col("ss_q") - col("s_q") * col("s_q") / n) / (n - 1)), 9)
          .as("stddev_qty"),
        round((col("s_qp") - col("s_q") * col("s_p") / n) / (n - 1), 9)
          .as("covar_qty_price"),
        round((col("s_qp") - col("s_q") * col("s_p") / n) /
          sqrt((col("ss_q") - col("s_q") * col("s_q") / n) *
            (col("ss_p") - col("s_p") * col("s_p") / n)), 9)
          .as("corr_qty_price"))
        .orderBy("l_returnflag")
    },
      """WITH a AS (
           SELECT l_returnflag, count(l_quantity) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS s_q,
             CAST(sum(CAST(l_quantity AS DECIMAL(12,2))
               * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS ss_q,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS s_p,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS ss_p,
             CAST(sum(CAST(l_quantity AS DECIMAL(12,2))
               * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS s_qp
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, n,
           round(s_q / CAST(n AS DOUBLE), 9) AS mean_qty,
           round((ss_q - s_q * s_q / CAST(n AS DOUBLE))
             / (CAST(n AS DOUBLE) - 1), 9) AS var_qty,
           round(sqrt((ss_q - s_q * s_q / CAST(n AS DOUBLE))
             / (CAST(n AS DOUBLE) - 1)), 9) AS stddev_qty,
           round((s_qp - s_q * s_p / CAST(n AS DOUBLE))
             / (CAST(n AS DOUBLE) - 1), 9) AS covar_qty_price,
           round((s_qp - s_q * s_p / CAST(n AS DOUBLE)) /
             sqrt((ss_q - s_q * s_q / CAST(n AS DOUBLE))
               * (ss_p - s_p * s_p / CAST(n AS DOUBLE))), 9) AS corr_qty_price
         FROM a ORDER BY l_returnflag"""),

    // column profiling (count/nulls/distinct/min/max per column)
    ContractQuery("q_profile", (s, dir) =>
      graft.functions.Profile.profile(t(s, dir, "orders"),
          Seq("o_orderkey", "o_orderstatus", "o_totalprice"))
        .orderBy("column"),
      """SELECT * FROM (
           SELECT 'o_orderkey' AS "column", count(*) AS n_rows,
             CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
             count(DISTINCT o_orderkey) AS n_distinct,
             CAST(min(o_orderkey) AS VARCHAR) AS min_value,
             CAST(max(o_orderkey) AS VARCHAR) AS max_value
           FROM orders
           UNION ALL
           SELECT 'o_orderstatus', count(*),
             CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             count(DISTINCT o_orderstatus),
             CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
           FROM orders
           UNION ALL
           SELECT 'o_totalprice', count(*),
             CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             count(DISTINCT o_totalprice),
             CAST(min(o_totalprice) AS VARCHAR), CAST(max(o_totalprice) AS VARCHAR)
           FROM orders)
         ORDER BY "column" """),

    // deterministic stratified sampling: per-stratum sampled counts stay
    // proportional (rare strata don't vanish); reproducible across engines
    ContractQuery("q_sample_stratified", (s, dir) => {
      val o = t(s, dir, "orders")
      val sampled = graft.functions.Profile
        .stratifiedSample(o, "o_orderkey", pct = 20)
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_sampled"))
      val full = o.groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_total"))
      full.join(sampled, Seq("o_orderpriority"), "left")
        .select(col("o_orderpriority"), col("n_total"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
        .orderBy("o_orderpriority")
    },
      """WITH sampled AS (
           SELECT o_orderpriority, count(*) AS n_sampled FROM orders
           WHERE (
             ((o_orderkey % 4294967296) % 65536) * 2654435761
             + ((((o_orderkey % 4294967296) // 65536) * 2654435761) % 65536) * 65536
           ) % 4294967296 % 100 < 20
           GROUP BY o_orderpriority),
         full_counts AS (
           SELECT o_orderpriority, count(*) AS n_total FROM orders
           GROUP BY o_orderpriority)
         SELECT f.o_orderpriority, f.n_total,
           coalesce(s.n_sampled, 0) AS n_sampled
         FROM full_counts f LEFT JOIN sampled s USING (o_orderpriority)
         ORDER BY o_orderpriority"""),

    // A/B lift with deterministic hash-parity arms: per-user conversion
    // (any purchase), exact counts per arm, lift decided as one quotient
    // of exact cross products — the experiment-analysis primitive
    ContractQuery("q_ab_lift", (s, dir) => {
      val per = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("converted"))
        .withColumn("arm",
          when(pmod(graft.functions.Profile.hash32(col("user_id")),
            lit(2L)) === 0L, "A").otherwise("B"))
      val agg = per.groupBy("arm")
        .agg(count(lit(1)).as("n_users"), sum(col("converted")).as("n_conv"))
      val a = agg.filter(col("arm") === "A")
        .select(col("n_users").as("n_a"), col("n_conv").as("conv_a"))
      val b = agg.filter(col("arm") === "B")
        .select(col("n_users").as("n_b"), col("n_conv").as("conv_b"))
      a.crossJoin(b).select(col("n_a"), col("conv_a"), col("n_b"),
        col("conv_b"),
        (col("conv_a").cast(DoubleType) / col("n_a").cast(DoubleType))
          .as("rate_a"),
        (col("conv_b").cast(DoubleType) / col("n_b").cast(DoubleType))
          .as("rate_b"),
        ((col("conv_b") * col("n_a")).cast(DoubleType) /
          (col("conv_a") * col("n_b")).cast(DoubleType)).as("lift"))
    },
      // hash32 parity replayed in integer SQL (the split twin's hash),
      // lift as one quotient of exact cross products
      """WITH per AS (
           SELECT user_id,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted,
             CASE WHEN (
                 ((user_id % 4294967296) % 65536) * 2654435761
                 + ((((user_id % 4294967296) // 65536) * 2654435761)
                    % 65536) * 65536
               ) % 4294967296 % 2 = 0 THEN 'A' ELSE 'B' END AS arm
           FROM events GROUP BY user_id),
         ag AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(converted) AS BIGINT) AS n_conv
           FROM per GROUP BY arm),
         a AS (SELECT n_users AS n_a, n_conv AS conv_a FROM ag
           WHERE arm = 'A'),
         b AS (SELECT n_users AS n_b, n_conv AS conv_b FROM ag
           WHERE arm = 'B')
         SELECT n_a, conv_a, n_b, conv_b,
           CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS rate_a,
           CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rate_b,
           CAST(conv_b * n_a AS DOUBLE) / CAST(conv_a * n_b AS DOUBLE)
             AS lift
         FROM a, b"""),

    // consecutive-pattern matching (MATCH_RECOGNIZE shape): count
    // strictly adjacent view→click→purchase triples per user — two leads
    // over the user-partitioned sequence, every occurrence (the funnel
    // counts first occurrences; this counts all adjacent runs)
    ContractQuery("q_event_pattern", (s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          lead(col("event_type"), 1).over(w).as("t1"),
          lead(col("event_type"), 2).over(w).as("t2"))
        .filter(col("event_type") === "view" && col("t1") === "click" &&
          col("t2") === "purchase")
        .groupBy("user_id").agg(count(lit(1)).as("n_patterns"))
        .orderBy("user_id")
    },
      """WITH s AS (
           SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS t1,
             lead(event_type, 2) OVER w AS t2
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_patterns
         FROM s WHERE event_type = 'view' AND t1 = 'click'
           AND t2 = 'purchase'
         GROUP BY user_id ORDER BY user_id"""),

    // winsorization report: exact interpolated p05/p95 per group plus
    // integer counts of rows below/within/above — the clamp decision
    // without ever summing clamped floats (decimal-rounding-free)
    ContractQuery("q_winsorize", (s, dir) => {
      val o = t(s, dir, "orders")
      // flat-memory rank selection for the clip bounds (see q_percentile)
      val bounds = graft.operators.Analytics.exactPercentiles(
        o, Seq("o_orderpriority"), "o_totalprice",
        Seq(("lo", 0.05), ("hi", 0.95)))
      o.join(bounds, "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(max(col("lo")).as("lo"), max(col("hi")).as("hi"),
          sum(when(col("o_totalprice") < col("lo"), 1L).otherwise(0L))
            .as("n_below"),
          sum(when(col("o_totalprice") > col("hi"), 1L).otherwise(0L))
            .as("n_above"),
          sum(when(col("o_totalprice") >= col("lo") &&
              col("o_totalprice") <= col("hi"), 1L).otherwise(0L))
            .as("n_within"))
        .orderBy("o_orderpriority")
    },
      // quantile_cont is the same linear interpolation as Spark's
      // percentile; counts stay integer so no clamped-sum rounding exists
      """WITH b AS (
           SELECT o_orderpriority,
             quantile_cont(o_totalprice, 0.05) AS lo,
             quantile_cont(o_totalprice, 0.95) AS hi
           FROM orders GROUP BY 1)
         SELECT o.o_orderpriority, max(b.lo) AS lo, max(b.hi) AS hi,
           CAST(sum(CASE WHEN o.o_totalprice < b.lo THEN 1 ELSE 0 END)
             AS BIGINT) AS n_below,
           CAST(sum(CASE WHEN o.o_totalprice > b.hi THEN 1 ELSE 0 END)
             AS BIGINT) AS n_above,
           CAST(sum(CASE WHEN o.o_totalprice >= b.lo
               AND o.o_totalprice <= b.hi THEN 1 ELSE 0 END)
             AS BIGINT) AS n_within
         FROM orders o JOIN b USING (o_orderpriority)
         GROUP BY 1 ORDER BY 1"""),

    // market-basket pair mining (frequent itemsets, size 2): parts
    // co-ordered in the same order, support >= 2. Pairs are enumerated
    // WITHOUT the self-join (the q_kcore edge-build shape): one map-side-
    // combined collect_set per order, every x<y pair expanded NARROWLY
    // inside the sorted array — the former distinct + self-join-on-ok
    // shuffled the lineitem projection three times to enumerate the same
    // pair multiset (guide §2.4: remove shuffles outright); the per-order
    // expansion is bounded by the order's own line count, never
    // corpus-wide, and the unchanged DuckDB oracle proves equivalence.
    ContractQuery("q_basket_pairs", (s, dir) => {
      val items = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("ok"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      items
        .select(explode(flatten(transform(col("ps"), (x, i) =>
          transform(slice(col("ps"), i + 2, size(col("ps"))), y =>
            struct(x.as("part_a"), y.as("part_b")))))).as("e"))
        .select(col("e.part_a").as("part_a"), col("e.part_b").as("part_b"))
        .groupBy("part_a", "part_b").agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2)
        .orderBy(col("support").desc, col("part_a"), col("part_b"))
    },
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
           FROM lineitem)
         SELECT a.pk AS part_a, b.pk AS part_b,
           CAST(count(*) AS BIGINT) AS support
         FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
         GROUP BY 1, 2 HAVING count(*) >= 2
         ORDER BY support DESC, part_a, part_b"""),

    // seasonal-naive anomaly flags: hour-of-day baseline per event type
    // (exact integer sums), each hourly count compared against 2x its
    // seasonal mean via cross-multiplied longs — no float enters the gate
    ContractQuery("q_seasonal_residual", (s, dir) => {
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"))
        .withColumn("hod", hour(col("hour")).cast(LongType))
      val base = hourly.groupBy("event_type", "hod")
        .agg(sum(col("n")).as("season_sum"), count(lit(1)).as("season_n"))
      hourly.join(base, Seq("event_type", "hod"))
        .select(col("event_type"), col("hour"), col("n"), col("hod"),
          col("season_sum").cast(LongType).as("season_sum"),
          col("season_n").cast(LongType).as("season_n"),
          (col("n") * col("season_n") > lit(2L) * col("season_sum"))
            .as("anomalous"))
        .orderBy("event_type", "hour")
    },
      // integer seasonal gate: n * season_n > 2 * season_sum
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         h2 AS (SELECT *, CAST(extract(hour FROM hour) AS BIGINT) AS hod
           FROM h),
         b AS (SELECT event_type, hod, CAST(sum(n) AS BIGINT) AS season_sum,
             CAST(count(*) AS BIGINT) AS season_n
           FROM h2 GROUP BY 1, 2)
         SELECT h2.event_type, h2.hour, h2.n, h2.hod, b.season_sum,
           b.season_n, h2.n * b.season_n > 2 * b.season_sum AS anomalous
         FROM h2 JOIN b USING (event_type, hod)
         ORDER BY event_type, hour"""),

    // last-touch attribution: each purchase credited to the most recent
    // preceding click's item (carried forward per user with an
    // ignore-nulls window) — purchases with no prior click stay
    // unattributed; exact counts per item
    ContractQuery("q_attribution", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ev = t(s, dir, "events")
        .withColumn("click_item",
          when(col("event_type") === "click",
            get_json_object(col("props"), "$.k").cast(LongType)))
        .withColumn("attributed",
          last(col("click_item"), ignoreNulls = true).over(w))
      ev.filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("attributed"), lit(-1L)).as("item"))
        .agg(count(lit(1)).as("n_purchases"))
        .orderBy("item")
    },
      """WITH ev AS (
           SELECT user_id, ts, event_id, event_type,
             CASE WHEN event_type = 'click'
               THEN CAST(json_extract_string(props, '$.k') AS BIGINT)
             END AS click_item
           FROM events),
         c AS (
           SELECT *,
             last_value(click_item IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS attributed
           FROM ev)
         SELECT coalesce(attributed, -1) AS item,
           CAST(count(*) AS BIGINT) AS n_purchases
         FROM c WHERE event_type = 'purchase'
         GROUP BY 1 ORDER BY item"""),

    // two-proportion z-test on the A/B arms (pooled variance): exact
    // counts in, one fixed double expression tree out — the significance
    // gate |z| > 1.96 decided on a bit-deterministic statistic
    ContractQuery("q_ab_significance", (s, dir) => {
      // "converted" = heavy purchaser (>= 15 purchases): every user in
      // this corpus purchases at least once, so the any-purchase rate is
      // 1.0 in both arms and the pooled z denominator degenerates to 0
      val per = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(when(sum(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)) >= 15L, 1L).otherwise(0L).as("converted"))
        .withColumn("arm",
          when(pmod(graft.functions.Profile.hash32(col("user_id")),
            lit(2L)) === 0L, "A").otherwise("B"))
      val agg = per.groupBy("arm")
        .agg(count(lit(1)).as("n_users"), sum(col("converted")).as("n_conv"))
      val a = agg.filter(col("arm") === "A")
        .select(col("n_users").as("n_a"), col("n_conv").as("conv_a"))
      val b = agg.filter(col("arm") === "B")
        .select(col("n_users").as("n_b"), col("n_conv").as("conv_b"))
      val na = col("n_a").cast(DoubleType); val nb = col("n_b").cast(DoubleType)
      val pa = col("conv_a").cast(DoubleType) / na
      val pb = col("conv_b").cast(DoubleType) / nb
      val pp = (col("conv_a") + col("conv_b")).cast(DoubleType) /
        (col("n_a") + col("n_b")).cast(DoubleType)
      val z = (pb - pa) / sqrt(pp * (lit(1.0) - pp) *
        (lit(1.0) / na + lit(1.0) / nb))
      a.crossJoin(b).select(col("n_a"), col("conv_a"), col("n_b"),
        col("conv_b"), z.as("z"), (abs(z) > 1.96).as("significant"))
    },
      // identical pooled-z tree; every float literal CAST to DOUBLE
      """WITH per AS (
           SELECT user_id,
             CASE WHEN sum(CASE WHEN event_type = 'purchase'
               THEN 1 ELSE 0 END) >= 15 THEN 1 ELSE 0 END AS converted,
             CASE WHEN (
                 ((user_id % 4294967296) % 65536) * 2654435761
                 + ((((user_id % 4294967296) // 65536) * 2654435761)
                    % 65536) * 65536
               ) % 4294967296 % 2 = 0 THEN 'A' ELSE 'B' END AS arm
           FROM events GROUP BY user_id),
         ag AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(converted) AS BIGINT) AS n_conv
           FROM per GROUP BY arm),
         a AS (SELECT n_users AS n_a, n_conv AS conv_a FROM ag
           WHERE arm = 'A'),
         b AS (SELECT n_users AS n_b, n_conv AS conv_b FROM ag
           WHERE arm = 'B'),
         z AS (SELECT a.n_a, a.conv_a, b.n_b, b.conv_b,
             (CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)
               - CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE))
             / sqrt((CAST(conv_a + conv_b AS DOUBLE)
                     / CAST(n_a + n_b AS DOUBLE))
                 * (CAST(1.0 AS DOUBLE)
                    - CAST(conv_a + conv_b AS DOUBLE)
                      / CAST(n_a + n_b AS DOUBLE))
                 * (CAST(1.0 AS DOUBLE) / CAST(n_a AS DOUBLE)
                    + CAST(1.0 AS DOUBLE) / CAST(n_b AS DOUBLE))) AS z
           FROM a, b)
         SELECT n_a, conv_a, n_b, conv_b, z,
           abs(z) > CAST(1.96 AS DOUBLE) AS significant
         FROM z"""),

    // inactivity report: each user's last event vs the corpus frontier;
    // inactive = idle 7+ days at the frontier (timestamp arithmetic
    // only), idle_days exact calendar-day diff
    ContractQuery("q_inactive_users", (s, dir) => {
      val ev = t(s, dir, "events")
      val lastPer = ev.groupBy("user_id").agg(max(col("ts")).as("last_ts"))
      val frontier = ev.agg(max(col("ts")).as("gmax"))
      lastPer.crossJoin(broadcast(frontier))
        .select(col("user_id"), col("last_ts"),
          datediff(to_date(col("gmax")), to_date(col("last_ts")))
            .cast(LongType).as("idle_days"),
          (col("last_ts") <= col("gmax") - expr("INTERVAL 7 DAYS"))
            .as("inactive"))
        .orderBy("user_id")
    },
      """WITH lp AS (SELECT user_id, max(ts) AS last_ts FROM events
           GROUP BY 1),
         g AS (SELECT max(ts) AS gmax FROM events)
         SELECT lp.user_id, lp.last_ts,
           CAST(date_diff('day', CAST(lp.last_ts AS DATE),
             CAST(g.gmax AS DATE)) AS BIGINT) AS idle_days,
           lp.last_ts <= g.gmax - INTERVAL 7 DAY AS inactive
         FROM lp, g ORDER BY lp.user_id"""),

    // calendar gap-fill + linear interpolation of each user's daily
    // purchase series — per-key spine (no global day x user cross join),
    // fill windows ride the same user_id hash partitioning
    ContractQuery("q_interpolate", (s, dir) => {
      val obs = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(max(col("value")).as("v"))
      graft.operators.TimeSeries.gapFillInterpolate(obs, "user_id", "day", "v")
        // midnight timestamp, not DATE: parquet date cells surface as
        // python date objects while the DuckDB oracle's dates surface as
        // datetimes — the comparator needs one type from both engines
        .withColumn("day", col("day").cast(TimestampType))
        .orderBy("user_id", "day")
    },
      // identical window/interp expression tree (same casts, same division)
      """WITH obs AS (
           SELECT user_id, CAST(ts AS DATE) AS day, max(value) AS v
           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
         b AS (SELECT user_id, min(day) AS d0, max(day) AS d1
           FROM obs GROUP BY 1),
         spine AS (SELECT user_id, CAST(unnest(generate_series(
             CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
             INTERVAL 1 DAY)) AS DATE) AS day FROM b),
         j AS (SELECT s.user_id, s.day, o.v
           FROM spine s LEFT JOIN obs o USING (user_id, day)),
         f AS (SELECT user_id, day, v,
             last_value(v IGNORE NULLS) OVER wb AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
               OVER wb AS pd,
             first_value(v IGNORE NULLS) OVER wf AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
               OVER wf AS nd
           FROM j
           WINDOW wb AS (PARTITION BY user_id ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           wf AS (PARTITION BY user_id ORDER BY day
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         SELECT user_id, CAST(day AS TIMESTAMP) AS day,
           v IS NOT NULL AS observed,
           CASE WHEN v IS NOT NULL THEN v
                WHEN pv IS NULL THEN nv
                WHEN nv IS NULL THEN pv
                ELSE pv + (nv - pv) *
                  (CAST(day - pd AS DOUBLE) / CAST(nd - pd AS DOUBLE))
           END AS value_filled
         FROM f ORDER BY user_id, day"""),

    // Deequ-style data-quality expectation suite: all lineitem checks run
    // as ONE aggregate pass (one scan at 100 TB, not |checks| scans), the
    // orders checks (incl. a count-distinct uniqueness branch) as another,
    // and the FK check as a left join against the distinct parent key set.
    // Exact integer violation counts — no float ratios — so every row
    // hash-compares. Checks are chosen so both outcomes appear: range/set
    // violations fire on the tightened bounds, the rest are clean.
    ContractQuery("q_expectations", (s, dir) => {
      import graft.operators.Expectations
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
      val liChecks = Expectations.run(li, Seq(
        Expectations.notNull("li_returnflag_not_null", col("l_returnflag")),
        Expectations.inRange("li_quantity_in_1_50", col("l_quantity"), 1, 50),
        Expectations.inRange("li_quantity_in_1_25", col("l_quantity"), 1, 25),
        Expectations.inSet("li_returnflag_accepted", col("l_returnflag"),
          Seq("A", "N", "R")),
        Expectations.satisfies("li_discount_le_5pct", col("l_discount") <= 0.05),
        Expectations.satisfies("li_price_positive", col("l_extendedprice") > 0)))
      val ordChecks = Expectations.run(ord, Seq(
          Expectations.notNull("ord_custkey_not_null", col("o_custkey")),
          Expectations.inSet("ord_status_f_or_o", col("o_orderstatus"),
            Seq("F", "O"))),
        uniqueKey = Some(("ord_orderkey_unique", col("o_orderkey"))))
      val fk = Expectations.foreignKey("li_orderkey_fk",
        li, col("l_orderkey"), ord, col("o_orderkey"))
      liChecks.unionByName(ordChecks).unionByName(fk).orderBy("check")
    },
      // same null semantics as the engine checks: a null predicate is a
      // violation (CASE null -> ELSE branch); violations cast to BIGINT
      """WITH li AS (
           SELECT count(*) AS n,
             sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS v_notnull,
             sum(CASE WHEN l_quantity >= 1 AND l_quantity <= 50 THEN 0 ELSE 1 END) AS v_q50,
             sum(CASE WHEN l_quantity >= 1 AND l_quantity <= 25 THEN 0 ELSE 1 END) AS v_q25,
             sum(CASE WHEN l_returnflag IN ('A','N','R') THEN 0 ELSE 1 END) AS v_set,
             sum(CASE WHEN l_discount <= 0.05 THEN 0 ELSE 1 END) AS v_disc,
             sum(CASE WHEN l_extendedprice > 0 THEN 0 ELSE 1 END) AS v_price
           FROM lineitem),
         o AS (
           SELECT count(*) AS n,
             sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS v_ck,
             sum(CASE WHEN o_orderstatus IN ('F','O') THEN 0 ELSE 1 END) AS v_st,
             count(*) - count(DISTINCT o_orderkey) AS v_dup
           FROM orders),
         fk AS (
           SELECT count(*) AS n,
             sum(CASE WHEN p.o_orderkey IS NULL THEN 1 ELSE 0 END) AS v
           FROM lineitem l
           LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) p
             ON l.l_orderkey = p.o_orderkey)
         SELECT "check", CAST(violations AS BIGINT) AS violations,
           n_rows, violations = 0 AS passed
         FROM (
           SELECT 'li_returnflag_not_null' AS "check", v_notnull AS violations, n AS n_rows FROM li
           UNION ALL SELECT 'li_quantity_in_1_50', v_q50, n FROM li
           UNION ALL SELECT 'li_quantity_in_1_25', v_q25, n FROM li
           UNION ALL SELECT 'li_returnflag_accepted', v_set, n FROM li
           UNION ALL SELECT 'li_discount_le_5pct', v_disc, n FROM li
           UNION ALL SELECT 'li_price_positive', v_price, n FROM li
           UNION ALL SELECT 'ord_custkey_not_null', v_ck, n FROM o
           UNION ALL SELECT 'ord_status_f_or_o', v_st, n FROM o
           UNION ALL SELECT 'ord_orderkey_unique', v_dup, n FROM o
           UNION ALL SELECT 'li_orderkey_fk', v, n FROM fk)
         ORDER BY "check" """),

    // key-skew diagnosis before a shuffle: per-key count distribution
    // shape for two candidate join/group keys — the "measure before
    // salting" report (skew_factor in the tens → saltedJoin/AQE skew)
    ContractQuery("q_skew_report", (s, dir) =>
      graft.functions.Profile.skewReport(t(s, dir, "lineitem"),
          Seq("l_orderkey", "l_suppkey"))
        .orderBy("key_col"),
      """WITH ko AS (SELECT l_orderkey AS k, count(*) AS n FROM lineitem
           GROUP BY 1),
         ks AS (SELECT l_suppkey AS k, count(*) AS n FROM lineitem
           GROUP BY 1),
         ro AS (SELECT 'l_orderkey' AS key_col, count(*) AS n_keys,
             CAST(sum(n) AS BIGINT) AS total, max(n) AS max_n,
             quantile_cont(n, 0.5) AS p50_n, quantile_cont(n, 0.99) AS p99_n
           FROM ko),
         rs AS (SELECT 'l_suppkey', count(*), CAST(sum(n) AS BIGINT),
             max(n), quantile_cont(n, 0.5), quantile_cont(n, 0.99)
           FROM ks)
         SELECT key_col, n_keys, total, max_n, p50_n, p99_n,
           CAST(max_n AS DOUBLE) / CAST(total AS DOUBLE) AS top_share,
           CAST(max_n AS DOUBLE) / p50_n AS skew_factor
         FROM (SELECT * FROM ro UNION ALL SELECT * FROM rs)
         ORDER BY key_col"""),

    // robust outlier gate: median absolute deviation (MAD) per group —
    // the quantile analog of q_outliers' z-score (robust to the heavy
    // tail that inflates a stddev gate). dev > 4.4478·mad ≈ |z_robust|>3;
    // exact interpolated percentiles (quantile_cont twin), multiply-only
    // predicate, exact counts.
    ContractQuery("q_mad_outliers", (s, dir) =>
      graft.operators.Analytics.madOutliers(t(s, dir, "orders"),
          "o_orderpriority", "o_totalprice")
        .orderBy("o_orderpriority"),
      // exact interpolated median + MAD per group (quantile_cont is the
      // same linear interpolation as Spark's percentile)
      """WITH med AS (SELECT o_orderpriority,
             quantile_cont(o_totalprice, 0.5) AS med
           FROM orders GROUP BY 1),
         d AS (SELECT o.o_orderpriority,
             abs(o.o_totalprice - m.med) AS dev, m.med
           FROM orders o JOIN med m USING (o_orderpriority)),
         md AS (SELECT o_orderpriority, max(med) AS med,
             quantile_cont(dev, 0.5) AS mad
           FROM d GROUP BY 1)
         SELECT d.o_orderpriority, max(md.med) AS med, max(md.mad) AS mad,
           count(*) AS n,
           CAST(sum(CASE WHEN d.dev > 4.4478 * md.mad THEN 1 ELSE 0 END)
             AS BIGINT) AS n_outliers
         FROM d JOIN md USING (o_orderpriority)
         GROUP BY d.o_orderpriority
         ORDER BY o_orderpriority"""),

    // integer-exact exponentially-decayed engagement: newest of the last
    // 16 events weighs 2^15, the 16th weighs 1 — the decayed sum is a sum
    // of distinct powers of two (exact BIGINT), score = num / 2^15
    // (power-of-two division, exact double). Window partitioned by user.
    ContractQuery("q_decay", (s, dir) =>
      graft.operators.Analytics.decayedScore(t(s, dir, "events"),
          eventType = "click", k = 16)
        .orderBy("user_id"),
      // decayed sum replayed with BIGINT shifts; the engine's
      // otherwise(0) sum can never be NULL, so the twin coalesces
      """WITH r AS (
           SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn
           FROM events)
         SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_recent,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_matching,
           CAST(coalesce(sum(CASE WHEN event_type = 'click'
               THEN CAST(1 AS BIGINT) << (16 - rn) ELSE 0 END), 0)
             AS BIGINT) AS decay_num,
           CAST(coalesce(sum(CASE WHEN event_type = 'click'
               THEN CAST(1 AS BIGINT) << (16 - rn) ELSE 0 END), 0)
             AS DOUBLE) / 32768.0 AS decay_score
         FROM r WHERE rn <= 16
         GROUP BY user_id ORDER BY user_id"""),

    // Wilson 95% lower-bound CTR per item (the ranking-under-uncertainty
    // score: a 2/2 item must NOT outrank a 95/100 one). Counts are exact
    // longs; the bound is one fixed double expression tree over them —
    // +,*,/,sqrt are all correctly rounded, so any engine reproduces it
    // bit-for-bit. Item id parsed from the JSON props.
    ContractQuery("q_wilson", (s, dir) => {
      val agg = t(s, dir, "events")
        .filter(col("event_type").isin("view", "click"))
        .groupBy(get_json_object(col("props"), "$.k").cast(LongType)
          .as("item"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("clicks"), count(lit(1)).as("n"))
      val nD = col("n").cast(DoubleType)
      val p = col("clicks").cast(DoubleType) / nD
      val z = lit(1.96)
      val z2 = z * z
      val lb = (p + z2 / (lit(2.0) * nD) -
        z * sqrt((p * (lit(1.0) - p) + z2 / (lit(4.0) * nD)) / nD)) /
        (lit(1.0) + z2 / nD)
      agg.select(col("item"), col("clicks"), col("n"), lb.as("wilson_lb"))
        .orderBy("item")
    },
      // identical expression tree: (p + z²/2n − z·sqrt((p(1−p)+z²/4n)/n))
      // / (1 + z²/n). Every z is CAST to DOUBLE: DuckDB parses a bare 1.96
      // as DECIMAL, so bare 1.96*1.96 would fold to exactly 3.8416 instead
      // of the double product 3.8415999999999997 Spark computes (1-ULP
      // drift in 4/100 rows, caught by the bit-exact compare)
      """WITH a AS (
           SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS BIGINT) AS clicks,
             CAST(count(*) AS BIGINT) AS n
           FROM events WHERE event_type IN ('view', 'click')
           GROUP BY 1),
         z AS (SELECT CAST(1.96 AS DOUBLE) AS z1)
         SELECT item, clicks, n,
           (CAST(clicks AS DOUBLE) / CAST(n AS DOUBLE)
              + (z1 * z1) / (CAST(2.0 AS DOUBLE) * CAST(n AS DOUBLE))
              - z1 * sqrt(((CAST(clicks AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(1.0 AS DOUBLE)
                     - CAST(clicks AS DOUBLE) / CAST(n AS DOUBLE))
                  + (z1 * z1) / (CAST(4.0 AS DOUBLE) * CAST(n AS DOUBLE)))
                / CAST(n AS DOUBLE)))
           / (CAST(1.0 AS DOUBLE) + (z1 * z1) / CAST(n AS DOUBLE))
             AS wilson_lb
         FROM a, z ORDER BY item"""),

    // CUSUM drift detector on hourly per-type event counts: the reset
    // recursion unrolled to running-sum minus reflected running-min —
    // two window frames per key, all longs, no recursion anywhere
    ContractQuery("q_cusum", (s, dir) => {
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"))
      graft.operators.TimeSeries.cusum(hourly, "event_type", "hour", "n",
          target = 3L, threshold = 10L)
        .orderBy("event_type", "hour")
    },
      // the unrolled reset recursion: cum − least(running-min(cum), 0),
      // staged CTEs because windows can't nest
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         c1 AS (SELECT event_type, hour, n, n - 3 AS diff,
             sum(n - 3) OVER (PARTITION BY event_type ORDER BY hour
               ROWS UNBOUNDED PRECEDING) AS cum
           FROM h),
         c2 AS (SELECT *, min(cum) OVER (PARTITION BY event_type
             ORDER BY hour ROWS UNBOUNDED PRECEDING) AS rmin
           FROM c1)
         SELECT event_type, hour, n, diff,
           CAST(cum - least(rmin, 0) AS BIGINT) AS cusum,
           cum - least(rmin, 0) > 10 AS drifted
         FROM c2 ORDER BY event_type, hour"""),

    // first-order Markov transition matrix over per-user event sequences
    // (lead window partitioned by user — bounded partitions); exact
    // counts, per-row IEEE probability quotient
    ContractQuery("q_transitions", (s, dir) =>
      graft.operators.Analytics.transitionMatrix(t(s, dir, "events"))
        .orderBy("from_type", "to_type"),
      // lead window partitioned per user, then exact transition counts
      """WITH p AS (
           SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS to_type
           FROM events),
         c AS (SELECT from_type, to_type, count(*) AS n FROM p
           WHERE to_type IS NOT NULL GROUP BY 1, 2),
         t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS total_from
           FROM c GROUP BY 1)
         SELECT c.from_type, c.to_type, c.n, t.total_from,
           CAST(c.n AS DOUBLE) / CAST(t.total_from AS DOUBLE) AS prob
         FROM c JOIN t USING (from_type)
         ORDER BY from_type, to_type"""),

    // Count-Min Sketch built purely relationally (grouped count = the
    // d×w counter matrix, map-side combined; estimates = broadcast join +
    // min over the d rows). w=64 over 150+ users forces real collisions,
    // so `exact` is false for collided keys while the CMS guarantee
    // est ≥ true (`ge_true`) holds for every key — both checked in-query
    // and replayed bit-exactly by the twin via the same two-limb hash.
    ContractQuery("q_cms", (s, dir) => {
      import graft.functions.CountMin
      val ev = t(s, dir, "events")
      val sketch = CountMin.build(ev, col("user_id"), d = 4, w = 64)
      val est = CountMin.estimate(sketch, ev.select("user_id"), "user_id",
        d = 4, w = 64)
      ev.groupBy("user_id").agg(count(lit(1)).as("true_cnt"))
        .join(est, Seq("user_id"))
        .select(col("user_id"), col("true_cnt"), col("est"),
          (col("est") >= col("true_cnt")).as("ge_true"),
          (col("est") === col("true_cnt")).as("exact"))
        .orderBy("user_id")
    },
      // CMS replay: the same double hash (h(h(key) + row) % w) builds the
      // d×w counter table and serves the point lookups
      s"""WITH ks AS (SELECT user_id, ${hash32Sql("user_id")} AS h1
             FROM events),
         bk AS (SELECT user_id, j,
             ${hash32Sql("h1 + j")} % 64 AS b
           FROM ks, (VALUES (0),(1),(2),(3)) js(j)),
         cms AS (SELECT j, b, count(*) AS cnt FROM bk GROUP BY j, b),
         probe AS (SELECT DISTINCT user_id, h1 FROM ks),
         pb AS (SELECT user_id, j, ${hash32Sql("h1 + j")} % 64 AS b
           FROM probe, (VALUES (0),(1),(2),(3)) js(j)),
         est AS (SELECT user_id, min(cnt) AS est
           FROM pb JOIN cms USING (j, b) GROUP BY user_id),
         tr AS (SELECT user_id, count(*) AS true_cnt FROM events
           GROUP BY user_id)
         SELECT t.user_id, t.true_cnt, CAST(e.est AS BIGINT) AS est,
           e.est >= t.true_cnt AS ge_true, e.est = t.true_cnt AS exact
         FROM tr t JOIN est e USING (user_id)
         ORDER BY user_id"""),

    // SpaceSaving heavy hitters (mergeable k-counter sketch) over the
    // token stream: emits the EXACT top-10 tokens plus the sketch's
    // est-err bound check per item — the q_approx_* contract pattern;
    // the flags are TRUE under any merge order (the sketch invariant),
    // which is what the twin hash-checks
    ContractQuery("q_heavy_hitters", (s, dir) => {
      val toks = t(s, dir, "documents").select(
        explode(filter(split(col("text"), " "), x => x =!= "")).as("tok"))
      graft.functions.SpaceSavingOps
        .heavyHittersChecked(toks, "tok", k = 256, topn = 10)
    },
      // exact token top-10; the sketch bound flags are invariantly TRUE
      """WITH toks AS (SELECT unnest(list_filter(string_split(text, ' '),
             x -> x <> '')) AS tok FROM documents),
         cnt AS (SELECT tok, count(*) AS n_exact FROM toks GROUP BY tok)
         SELECT tok, n_exact, TRUE AS within_bound
         FROM cnt ORDER BY n_exact DESC, tok ASC LIMIT 10"""),

    // ordered-funnel conversion (view -> click -> purchase by FIRST
    // occurrence, strict order): one min-per-step groupBy, stage explode
    // bounded by the literal step count — event volume never fans out
    ContractQuery("q_funnel", (s, dir) =>
      graft.operators.Analytics.funnel(t(s, dir, "events"),
        Seq("view", "click", "purchase")),
      // first-occurrence strict-order funnel: stage per user, then a
      // lateral fan-out of at most |steps| rows per user
      """WITH firsts AS (SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t0,
             min(CASE WHEN event_type = 'click' THEN ts END) AS t1,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t2
           FROM events
           WHERE event_type IN ('view', 'click', 'purchase')
           GROUP BY user_id),
         staged AS (SELECT CASE WHEN t0 IS NULL THEN 0
             WHEN t1 IS NULL OR t1 <= t0 THEN 1
             WHEN t2 IS NULL OR t2 <= t1 THEN 2
             ELSE 3 END AS stage FROM firsts),
         counts AS (SELECT CAST(t.i AS INTEGER) AS step_idx,
             count(*) AS n_users
           FROM staged, unnest(generate_series(1, staged.stage)) AS t(i)
           GROUP BY 1),
         fst AS (SELECT n_users AS n_first FROM counts WHERE step_idx = 1)
         SELECT c.step_idx,
           CASE c.step_idx WHEN 1 THEN 'view' WHEN 2 THEN 'click'
             ELSE 'purchase' END AS step,
           c.n_users,
           round(CAST(c.n_users AS DOUBLE) / CAST(f.n_first AS DOUBLE), 6)
             AS conversion
         FROM counts c CROSS JOIN fst f ORDER BY c.step_idx"""),

    // weekly cohort retention (Monday-truncated first-event cohorts x
    // week offset): activity deduped to user-weeks BEFORE the cohort join
    ContractQuery("q_cohort", (s, dir) =>
      graft.operators.Analytics.cohortRetention(t(s, dir, "events")),
      // Monday-week cohorts x week offset over deduped user-weeks
      """WITH cohorts AS (SELECT user_id,
             date_trunc('week', min(ts)) AS cohort_week
           FROM events GROUP BY user_id),
         active AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
           FROM events),
         j AS (SELECT c.cohort_week,
             CAST(floor(datediff('day', CAST(c.cohort_week AS DATE),
                                 CAST(a.wk AS DATE)) / 7) AS BIGINT)
               AS week_offset
           FROM active a JOIN cohorts c USING (user_id))
         SELECT cohort_week, week_offset, count(*) AS n_users
         FROM j GROUP BY cohort_week, week_offset
         ORDER BY cohort_week, week_offset"""),

    // equi-width histogram of order totals: one narrow bucket map + a
    // 20-group aggregate — the scan-speed distribution profile
    ContractQuery("q_histogram", (s, dir) =>
      graft.operators.Analytics.histogram(t(s, dir, "orders"),
        "o_totalprice", lo = 0.0, hi = 500000.0, buckets = 20),
      // identical clamp+floor bucket expression over the same [0, 500000)
      // range in 20 bins
      """WITH b AS (SELECT least(greatest(
             CAST(floor((o_totalprice - CAST(0.0 AS DOUBLE))
               / CAST(25000.0 AS DOUBLE)) AS BIGINT), 0), 19) AS bucket
           FROM orders WHERE o_totalprice IS NOT NULL)
         SELECT bucket,
           CAST(0.0 AS DOUBLE) + CAST(bucket AS DOUBLE)
             * CAST(25000.0 AS DOUBLE) AS lo_edge,
           count(*) AS n
         FROM b GROUP BY bucket ORDER BY bucket"""),

    // per-group z-score outlier flagging (anomaly detection for event
    // streams): moments accumulate in DECIMAL (exact, order-independent
    // — events.value is 2-dp), mean/sd and z are fixed-shape double
    // expressions, and the outlier predicate is the division-free
    // |v - mean| > 2*sd so both engines compare bit-identical
    // quantities; the per-type stats row is a broadcast, the event
    // stream never shuffles
    ContractQuery("q_outliers", (s, dir) => {
      val ev = t(s, dir, "events")
      val stats = ev.groupBy(col("event_type")).agg(
        count(col("value")).as("cnt"),
        sum(dec2(col("value"))).cast(DoubleType).as("s"),
        sum(dec2(col("value")) * dec2(col("value")))
          .cast(DoubleType).as("ss"))
      val n = col("cnt").cast(DoubleType)
      val m = stats.select(col("event_type"),
        (col("s") / n).as("mean"),
        sqrt((col("ss") - col("s") * col("s") / n) / (n - 1)).as("sd"))
      ev.join(broadcast(m), "event_type")
        .filter(abs(col("value") - col("mean")) > lit(2.0) * col("sd"))
        .select(col("event_id"), col("event_type"), col("value"),
          round((col("value") - col("mean")) / col("sd"), 6).as("z"))
        .orderBy(col("event_type"), col("event_id"))
    },
      // exact DECIMAL moments, identical double shapes for mean/sd/z, and
      // the same division-free outlier predicate
      """WITH a AS (SELECT event_type, count(value) AS cnt,
             CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS s,
             CAST(sum(CAST(value AS DECIMAL(12,2))
               * CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS ss
           FROM events GROUP BY event_type),
         m AS (SELECT event_type,
             s / CAST(cnt AS DOUBLE) AS mean,
             sqrt((ss - s * s / CAST(cnt AS DOUBLE))
               / (CAST(cnt AS DOUBLE) - 1)) AS sd
           FROM a)
         SELECT e.event_id, e.event_type, e.value,
           round((e.value - m.mean) / m.sd, 6) AS z
         FROM events e JOIN m USING (event_type)
         WHERE abs(e.value - m.mean) > 2.0 * m.sd
         ORDER BY e.event_type, e.event_id"""),

    // equi-DEPTH histogram (decile binning): ONE percentile aggregate
    // yields the 9 boundaries as a broadcast row — never a global
    // sort/ntile window; counts are exact because both engines compute
    // bit-identical interpolated quantiles (q_percentile proves it)
    ContractQuery("q_equidepth", (s, dir) =>
      graft.operators.Analytics.equiDepthHistogram(
        t(s, dir, "orders"), "o_totalprice", buckets = 10),
      // same decile boundaries from quantile_cont (bit-identical to
      // Spark's percentile), same boundaries-strictly-below-x bucket fold
      """WITH bounds AS (SELECT quantile_cont(o_totalprice,
             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs
           FROM orders WHERE o_totalprice IS NOT NULL),
         bk AS (SELECT CAST(list_sum(list_transform(b.bs,
             x -> CASE WHEN o.o_totalprice > x THEN 1 ELSE 0 END))
               AS BIGINT) AS bucket
           FROM orders o CROSS JOIN bounds b
           WHERE o.o_totalprice IS NOT NULL)
         SELECT bucket, count(*) AS n FROM bk
         GROUP BY bucket ORDER BY bucket"""),

    // quantile normalization of a heavy-repeat discrete feature
    // (l_quantity: ~50 distinct values): map each value to its empirical
    // CDF — the rank-free feature transform that makes skewed columns
    // uniform before binning/modeling. Scale shape: the data-sized work
    // is ONE map-side-combinable histogram groupBy; the cumulative sum
    // runs over the |distinct|-row histogram via a broadcast self-join
    // (|V|² comparisons, |V|≈50 — a window keyed by a constant would
    // constant-fold to the banned Exchange SinglePartition). Contract:
    // for near-unique continuous columns use q_equidepth /
    // exactPercentiles instead — there the histogram IS the data.
    ContractQuery("q_quantile_normalize", (s, dir) => {
      val h = t(s, dir, "lineitem")
        .groupBy(col("l_quantity")).agg(count(lit(1)).as("n"))
      val c = h.as("a")
        .join(broadcast(h.as("b")),
          col("b.l_quantity") <= col("a.l_quantity"))
        .groupBy(col("a.l_quantity").as("l_quantity"))
        .agg(max(col("a.n")).as("n"), sum(col("b.n")).as("cum"))
      val tot = h.agg(sum(col("n")).as("total"))
      c.crossJoin(broadcast(tot))
        .select(col("l_quantity"), col("n"), col("cum"),
          (col("cum").cast(DoubleType) / col("total").cast(DoubleType))
            .as("cdf"),
          ((col("cum") - col("n")).cast(DoubleType) /
            col("total").cast(DoubleType)).as("cdf_lower"))
        .orderBy("l_quantity")
    },
      // same histogram + cumulative self-join + exact long→double quotients
      """WITH h AS (SELECT l_quantity, CAST(count(*) AS BIGINT) AS n
           FROM lineitem GROUP BY 1),
         c AS (SELECT a.l_quantity, max(a.n) AS n,
             CAST(sum(b.n) AS BIGINT) AS cum
           FROM h a JOIN h b ON b.l_quantity <= a.l_quantity GROUP BY 1),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM h)
         SELECT l_quantity, n, cum,
           CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) AS cdf,
           CAST(cum - n AS DOUBLE) / CAST(total AS DOUBLE) AS cdf_lower
         FROM c, t ORDER BY l_quantity"""),

    // deterministic importance (length-weighted) downsampling: keep doc
    // iff hash-uniform u(doc_id) < tokens/max_tokens — longer documents
    // survive proportionally more often, the standard length-weighted
    // token-budget sampler. All decisions are BIGINT compares on a
    // Knuth-multiplicative hash (u = doc_id·2654435761 mod 2^20), so any
    // engine replays the exact kept set — no RNG, no order dependence.
    // Scale shape: pure narrow map over the scan + one small grouped
    // aggregate; the max-weight is a 1-row broadcast. Reports per-source
    // governance: docs/tokens kept and the retained token share.
    ContractQuery("q_importance_sample", (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          graft.functions.Text.tokenCount(col("text")).as("w"))
      val mx = d.agg(max(col("w")).as("maxw"))
      d.crossJoin(broadcast(mx))
        .withColumn("kept",
          // reduce doc_id mod 2^20 BEFORE the Knuth multiply: congruent
          // mod 2^20 (so the kept set is identical), but every
          // intermediate stays < 2^52 — the raw product overflows signed
          // 64-bit at doc_id ≥ ~3.5e9, well inside a 100 TB corpus
          // (ANSI mode would throw; the twin's BIGINT errors out of range)
          (col("doc_id") % lit(1048576L)) * lit(2654435761L) % lit(1048576L)
            * col("maxw") < col("w") * lit(1048576L))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          sum(col("w")).cast(LongType).as("tokens_total"),
          sum(when(col("kept"), col("w")).otherwise(0L)).cast(LongType)
            .as("tokens_kept"))
        .withColumn("kept_token_share",
          col("tokens_kept").cast(DoubleType) /
            col("tokens_total").cast(DoubleType))
        .orderBy("source")
    },
      // identical BIGINT hash-threshold keep rule, identical token counts
      """WITH d AS (SELECT source, doc_id,
             CAST(length(regexp_extract_all(text, '\S+')) AS BIGINT) AS w
           FROM documents),
         m AS (SELECT max(w) AS maxw FROM d),
         k AS (SELECT source, w,
             (((doc_id % 1048576) * 2654435761) % 1048576) * maxw
               < w * 1048576 AS kept
           FROM d, m)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(w) AS BIGINT) AS tokens_total,
           CAST(sum(CASE WHEN kept THEN w ELSE 0 END) AS BIGINT)
             AS tokens_kept,
           CAST(sum(CASE WHEN kept THEN w ELSE 0 END) AS DOUBLE) /
             CAST(sum(w) AS DOUBLE) AS kept_token_share
         FROM k GROUP BY source ORDER BY source""")
  )
}
