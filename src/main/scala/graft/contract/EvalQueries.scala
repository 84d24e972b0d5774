package graft
package contract

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.Context

import Shared._

/** Privacy audits and evaluation metrics. */
object EvalQueries {

  /** The Bradley-Terry twin, shared by q_bradley_terry and
    * q_sql_bradley_terry: exact-cents win table, 3 unrolled MM rounds
    * with list_reduce ordered folds and the sum-to-m rescale. */
  private val bradleyTerryTwinSql: String = {
      val rounds = (1 to 3).map { r =>
        val prev = s"r${r - 1}"
        s"""d$r AS (
           SELECT nt.i,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(CAST(nt.n_tot AS DOUBLE)
                      / (wi.strength + wj.strength) ORDER BY nt.j)),
               (a, b) -> a + b) AS denom
           FROM nt JOIN $prev wi ON wi.item = nt.i
             JOIN $prev wj ON wj.item = nt.j
           GROUP BY nt.i),
         raw$r AS (
           SELECT wtot.i AS item,
             CAST(wtot.w_total AS DOUBLE) / d$r.denom AS raw
           FROM wtot JOIN d$r ON d$r.i = wtot.i),
         t$r AS (
           SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(raw ORDER BY item)), (a, b) -> a + b) AS t
           FROM raw$r),
         r$r AS (
           SELECT item, raw * mm.m / t$r.t AS strength
           FROM raw$r, t$r, mm)"""
      }.mkString(",\n         ")
      s"""WITH cents AS (
           SELECT user_id, event_type,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
           FROM events GROUP BY 1, 2),
         wt AS (
           SELECT winner, loser, CAST(count(*) AS BIGINT) AS w FROM (
             SELECT
               CASE WHEN a.cents > b.cents THEN a.event_type
                 ELSE b.event_type END AS winner,
               CASE WHEN a.cents > b.cents THEN b.event_type
                 ELSE a.event_type END AS loser
             FROM cents a JOIN cents b
               ON a.user_id = b.user_id AND a.event_type < b.event_type
             WHERE a.cents <> b.cents)
           GROUP BY 1, 2),
         pt AS (
           SELECT i, j, CAST(sum(wij) AS BIGINT) AS wij FROM (
             SELECT winner AS i, loser AS j, w AS wij FROM wt
             UNION ALL SELECT loser AS i, winner AS j, 0 AS wij FROM wt)
           GROUP BY 1, 2),
         nt AS (
           SELECT a.i, a.j, a.wij, a.wij + b.wij AS n_tot
           FROM pt a JOIN pt b ON a.i = b.j AND a.j = b.i),
         wtot AS (SELECT i, CAST(sum(wij) AS BIGINT) AS w_total
           FROM nt GROUP BY i),
         mm AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM wtot),
         r0 AS (SELECT i AS item, CAST(1.0 AS DOUBLE) AS strength
           FROM wtot),
         $rounds
         SELECT item, round(strength, 6) AS strength FROM r3
         ORDER BY item"""
    }

  /** The pass@k twin, shared by q_pass_at_k (DataFrame path) and
    * q_sql_pass_at_k (SQL front door): the telescoped product replayed
    * term-for-term — the engine's fold is 1.0 * t0 * t1 * ... left-
    * assoc, each term ((n-c)-i)/(n-i) with the same subtraction shape;
    * the c=0 / n-c<k short circuits match the `when` chain exactly. */
  private val passAtKTwinSql: String = {
    val prod = (0 until 5).map { i =>
      s"""* (((CAST(n AS DOUBLE) - CAST(c AS DOUBLE))
               - CAST($i AS DOUBLE))
             / (CAST(n AS DOUBLE) - CAST($i AS DOUBLE)))"""
    }.mkString("\n             ")
    s"""WITH a AS (
         SELECT user_id, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN value >= CAST(100.0 AS DOUBLE)
             THEN 1 ELSE 0 END) AS BIGINT) AS c
         FROM events GROUP BY user_id)
       SELECT user_id, n, c,
         round(CASE WHEN c = 0 THEN CAST(0.0 AS DOUBLE)
           WHEN n - c < 5 THEN CAST(1.0 AS DOUBLE)
           ELSE CAST(1.0 AS DOUBLE) - (CAST(1.0 AS DOUBLE)
           $prod)
           END, 6) AS pass_at_k
       FROM a ORDER BY user_id"""
  }

  /** l-diversity twin, shared by the DataFrame path (q_ldiversity) and
    * the SQL front door (q_sql_ldiversity). */
  private val ldiversityTwinSql: String =
    """WITH c AS (
           SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_sensitive
           FROM events GROUP BY 1, 2),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS total,
             CAST(coalesce(sum(CASE WHEN n_sensitive < 50 THEN n END), 0)
               AS BIGINT) AS risky
           FROM c)
         SELECT event_type, day, n, n_sensitive,
           n_sensitive < 50 AS at_risk,
           t.risky AS rows_at_risk, t.total AS rows_total,
           CAST(t.risky AS DOUBLE) / CAST(t.total AS DOUBLE) AS risk_share
         FROM c, t ORDER BY event_type, day"""

  val queries: Seq[ContractQuery] = Seq(
    // unbiased pass@k (Chen et al. 2021, eq. 1) per problem: n attempts,
    // c passes (value >= 100), estimator 1 - Π(n-c-i)/(n-i) UNROLLED
    // into a fixed k-term left-to-right double chain (no pow/lgamma —
    // libm varies); c=0 and n-c<k short-circuit exactly. One hash agg
    // over the attempt log, then a narrow expression — no second shuffle
    ContractQuery("q_pass_at_k", (s, dir) =>
      graft.operators.Evaluation.passAtK(
          t(s, dir, "events"), "user_id",
          col("value") >= 100.0, k = 5)
        .select(col("user_id"), col("n"), col("c"),
          round(col("pass_at_k"), 6).as("pass_at_k"))
        .orderBy("user_id"),
      // shared twin (see passAtKTwinSql): both the DataFrame path and the
      // §2.6 SQL front door must converge on this one oracle
      passAtKTwinSql),

    // the SAME pass@k through the §2.6 SQL front door (catalog
    // validation + Spark SQL parser): an independent re-statement of
    // the unrolled product converging on the shared oracle
    ContractQuery("q_sql_pass_at_k", (s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      val prod = (0 until 5).map { i =>
        s"""* (((CAST(n AS DOUBLE) - CAST(c AS DOUBLE))
                 - CAST($i AS DOUBLE))
               / (CAST(n AS DOUBLE) - CAST($i AS DOUBLE)))"""
      }.mkString("\n            ")
      ctx.sql(s"""
        WITH a AS (
          SELECT user_id, count(*) AS n,
            sum(CASE WHEN value >= CAST(100.0 AS DOUBLE)
              THEN 1L ELSE 0L END) AS c
          FROM events GROUP BY user_id)
        SELECT user_id, n, c,
          round(CASE WHEN c = 0 THEN CAST(0.0 AS DOUBLE)
            WHEN n - c < 5 THEN CAST(1.0 AS DOUBLE)
            ELSE CAST(1.0 AS DOUBLE) - (CAST(1.0 AS DOUBLE)
            $prod)
            END, 6) AS pass_at_k
        FROM a ORDER BY user_id""")
    },
      passAtKTwinSql),

    // the SAME Bradley-Terry fit through the §2.6 SQL front door, run
    // the way a SQL CLIENT would: each stage is a catalog-validated
    // statement whose (checkpointed) result is re-REGISTERED as a table
    // for the next one — the reference's own register-then-query idiom
    // (context.rs:53-63). This matters: Spark INLINES deterministic
    // CTEs regardless of reference count, so a single statement with 3
    // unrolled MM rounds (each reading the previous round twice)
    // explodes to a 3,549-exchange plan and a 41 s wall; staged through
    // registered checkpoints the plan stays round-sized. Folds are
    // aggregate(sort_array(collect_list(named_struct(...)))) — Spark
    // SQL's spelling of the PageRank determinism contract — converging
    // on q_bradley_terry's oracle
    ContractQuery("q_sql_bradley_terry", (s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      // pt is registered as its OWN checkpoint before the symmetrizing
      // self-join: Spark inlines deterministic CTEs regardless of
      // reference count, so `pt a JOIN pt b` ran the whole corpus-sized
      // win pipeline twice (the branches partition on swapped keys — no
      // exchange reuse). Same fix as Evaluation.bradleyTerry.
      ctx.register("bt_pt", ctx.sql("""
        WITH cents AS (
          SELECT user_id, event_type,
            sum(CAST(round(value * 100) AS BIGINT)) AS cents
          FROM events GROUP BY 1, 2),
        wt AS (
          SELECT winner, loser, count(*) AS w FROM (
            SELECT
              CASE WHEN a.cents > b.cents THEN a.event_type
                ELSE b.event_type END AS winner,
              CASE WHEN a.cents > b.cents THEN b.event_type
                ELSE a.event_type END AS loser
            FROM cents a JOIN cents b
              ON a.user_id = b.user_id AND a.event_type < b.event_type
            WHERE a.cents <> b.cents)
          GROUP BY 1, 2)
        SELECT i, j, sum(wij) AS wij FROM (
          SELECT winner AS i, loser AS j, w AS wij FROM wt
          UNION ALL SELECT loser AS i, winner AS j, 0L AS wij FROM wt)
        GROUP BY 1, 2""")
        .localCheckpoint())
      ctx.register("bt_nt", ctx.sql("""
        SELECT a.i, a.j, a.wij, a.wij + b.wij AS n_tot
        FROM bt_pt a JOIN bt_pt b ON a.i = b.j AND a.j = b.i""")
        .localCheckpoint())
      ctx.register("bt_wtot", ctx.sql(
        "SELECT i, sum(wij) AS w_total FROM bt_nt GROUP BY i")
        .localCheckpoint())
      ctx.register("bt_mm", ctx.sql(
        "SELECT CAST(count(*) AS DOUBLE) AS m FROM bt_wtot"))
      var prev = ctx.sql(
        "SELECT i AS item, CAST(1.0 AS DOUBLE) AS strength FROM bt_wtot")
        .localCheckpoint()
      for (_ <- 1 to 3) {
        ctx.register("bt_w", prev)
        prev = ctx.sql("""
          WITH d AS (
            SELECT nt.i,
              aggregate(sort_array(collect_list(named_struct(
                  'j', nt.j,
                  'd', CAST(nt.n_tot AS DOUBLE)
                    / (wi.strength + wj.strength)))),
                CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.d) AS denom
            FROM bt_nt nt JOIN bt_w wi ON wi.item = nt.i
              JOIN bt_w wj ON wj.item = nt.j
            GROUP BY nt.i),
          raw AS (
            SELECT w.i AS item, CAST(w.w_total AS DOUBLE) / d.denom AS raw
            FROM bt_wtot w JOIN d ON d.i = w.i),
          t AS (
            SELECT aggregate(sort_array(collect_list(named_struct(
                  'item', item, 'raw', raw))),
                CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.raw) AS t
            FROM raw)
          SELECT item, raw * mm.m / t.t AS strength
          FROM raw CROSS JOIN t CROSS JOIN bt_mm mm""")
          .localCheckpoint()
      }
      ctx.register("bt_final", prev)
      ctx.sql("""SELECT item, round(strength, 6) AS strength
        FROM bt_final ORDER BY item""")
    },
      bradleyTerryTwinSql),

    // DPO-style preference-PAIR construction: per prompt (user) the
    // highest- and lowest-scored responses become (chosen, rejected)
    // with a positive margin — the dataset artifact preference tuning
    // consumes. Deterministic ties via struct order (value, event_id);
    // one hash agg over the response log, no window, no second shuffle
    ContractQuery("q_pref_pairs", (s, dir) => {
      val ev = t(s, dir, "events")
      ev.groupBy(col("user_id"))
        .agg(max(struct(col("value"), col("event_id"))).as("ch"),
          min(struct(col("value"), col("event_id"))).as("rj"))
        .select(col("user_id"),
          col("ch.event_id").as("chosen_id"),
          col("rj.event_id").as("rejected_id"),
          col("ch.value").as("chosen_score"),
          col("rj.value").as("rejected_score"),
          (col("ch.value") - col("rj.value")).as("margin"))
        .filter(col("margin") > 0.0)
        .orderBy("user_id")
    },
      // preference-pair twin: the engine's struct max/min replayed as
      // explicit (value, event_id) ranked windows — ties break on the
      // HIGHER event_id for chosen, LOWER for rejected, exactly the
      // field-wise struct order
      """WITH r AS (
           SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id
               ORDER BY value DESC, event_id DESC) AS rc,
             row_number() OVER (PARTITION BY user_id
               ORDER BY value ASC, event_id ASC) AS rr
           FROM events),
         ch AS (SELECT user_id, event_id AS chosen_id,
             value AS chosen_score FROM r WHERE rc = 1),
         rj AS (SELECT user_id, event_id AS rejected_id,
             value AS rejected_score FROM r WHERE rr = 1)
         SELECT ch.user_id, ch.chosen_id, rj.rejected_id,
           ch.chosen_score, rj.rejected_score,
           ch.chosen_score - rj.rejected_score AS margin
         FROM ch JOIN rj ON ch.user_id = rj.user_id
         WHERE ch.chosen_score - rj.rejected_score > 0.0
         ORDER BY ch.user_id"""),

    // Bradley-Terry preference strengths (Hunter 2004 MM) — the scoring
    // backbone of preference/RLHF curation: per user the five event
    // types are ranked by exact spend cents, every non-tied pairwise
    // outcome feeds the win table, then 3 MM rounds with ordered-fold
    // denominator/normalization sums (the PageRank determinism
    // contract). The corpus is touched once; the loop runs on the
    // item-vocabulary-sized pair table
    ContractQuery("q_bradley_terry", (s, dir) => {
      val cents = t(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(sum(round(col("value") * 100).cast(LongType)).as("cents"))
      val wins = cents.alias("a").join(cents.alias("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.event_type") < col("b.event_type"))
        .filter(col("a.cents") =!= col("b.cents"))
        .select(
          when(col("a.cents") > col("b.cents"), col("a.event_type"))
            .otherwise(col("b.event_type")).as("winner"),
          when(col("a.cents") > col("b.cents"), col("b.event_type"))
            .otherwise(col("a.event_type")).as("loser"))
        .groupBy("winner", "loser").agg(count(lit(1)).as("w"))
      graft.operators.Evaluation.bradleyTerry(wins, iters = 3)
        .select(col("item"), round(col("strength"), 6).as("strength"))
        .orderBy("item")
    },
      // full Bradley-Terry MM replay: exact-cents win table, then 3 rounds
      // of denominator folds (list_reduce over list(... ORDER BY j), the
      // engine's sort_array ordered fold) and a sum-to-m rescale whose
      // item-ordered fold matches the engine's normalization
      bradleyTerryTwinSql),

    // PII incidence report (the measure step before redaction): emails /
    // URLs / long digit runs injected on deterministic doc subsets, then
    // counted per source with the redactor's own patterns — exact counts,
    // one share quotient
    ContractQuery("q_pii_rate", (s, dir) => {
      val injected = concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact a"), col("doc_id").cast(StringType),
            lit("@mail-example.com"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" see https://ex.org/d/"),
            col("doc_id").cast(StringType))).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" ref 4049100"), col("doc_id").cast(StringType)))
          .otherwise(lit("")))
      val hasEmail = regexp_count(injected,
        lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}")) > 0
      val hasUrl = regexp_count(injected, lit("https?://[^ \\t\\n]+")) > 0
      val hasNum = regexp_count(injected, lit("[0-9]{6,}")) > 0
      t(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(hasEmail, 1L).otherwise(0L)).as("n_email"),
          sum(when(hasUrl, 1L).otherwise(0L)).as("n_url"),
          sum(when(hasNum, 1L).otherwise(0L)).as("n_longnum"),
          sum(when(hasEmail || hasUrl || hasNum, 1L).otherwise(0L))
            .as("n_any"))
        .withColumn("pii_share",
          col("n_any").cast(DoubleType) / col("n_docs").cast(DoubleType))
        .orderBy("source")
    },
      // same injection, the redact twin's patterns, exact counts
      """WITH inj AS (
           SELECT source,
             text ||
             (CASE WHEN doc_id % 3 = 0 THEN ' contact a'
                || CAST(doc_id AS VARCHAR) || '@mail-example.com'
               ELSE '' END) ||
             (CASE WHEN doc_id % 5 = 0 THEN ' see https://ex.org/d/'
                || CAST(doc_id AS VARCHAR) ELSE '' END) ||
             (CASE WHEN doc_id % 7 = 0 THEN ' ref 4049100'
                || CAST(doc_id AS VARCHAR) ELSE '' END) AS t
           FROM documents),
         f AS (
           SELECT source,
             CASE WHEN regexp_matches(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')
               THEN 1 ELSE 0 END AS e,
             CASE WHEN regexp_matches(t, 'https?://[^ \t\n]+')
               THEN 1 ELSE 0 END AS u,
             CASE WHEN regexp_matches(t, '[0-9]{6,}')
               THEN 1 ELSE 0 END AS d
           FROM inj)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(e) AS BIGINT) AS n_email,
           CAST(sum(u) AS BIGINT) AS n_url,
           CAST(sum(d) AS BIGINT) AS n_longnum,
           CAST(sum(CASE WHEN e + u + d > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_any,
           CAST(sum(CASE WHEN e + u + d > 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS pii_share
         FROM f GROUP BY source ORDER BY source"""),

    // §2.6 front door for the DP release: the same discrete-Laplace bit
    // arithmetic in SQL text, exercising the extension-registered
    // rolling_fingerprint function through the catalog-validated door
    ContractQuery("q_sql_dp_release", (s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        WITH c AS (SELECT source, count(*) AS n FROM documents
          GROUP BY source),
        u AS (SELECT source, n,
          fnv64(source) & 4294967295 AS u FROM c)
        SELECT source,
          CAST(n + (1L - 2L * (u % 2)) *
            CAST(bit_count(((u div 2) ^ ((u div 2) + 1)) div 2) AS BIGINT)
            AS BIGINT) AS released
        FROM u ORDER BY source""")
    },
      // same released counts through the SQL front door
      """WITH c AS (SELECT source, count(*) AS n FROM documents
           GROUP BY source),
         h AS (SELECT source, n,
             list_reduce(
               list_prepend(CAST('14695981039346656037' AS HUGEINT),
                 list_transform(generate_series(1, length(source)),
                   i -> CAST(ord(substr(source, i, 1)) AS HUGEINT))),
               (h, b) -> (xor(h, b) * CAST('1099511628211' AS HUGEINT))
                 % CAST('18446744073709551616' AS HUGEINT)) AS hu
           FROM c),
         u AS (SELECT source, n, CAST(hu % 4294967296 AS BIGINT) AS u
           FROM h),
         z AS (SELECT source, n, u % 2 AS sign, u // 2 AS y FROM u)
         SELECT source,
           CAST(n + (1 - 2 * sign) * bit_count(xor(y, y + 1) // 2)
             AS BIGINT) AS released
         FROM z ORDER BY source"""),

    // §2.6 front-door parity for the round-8 l-diversity audit: the
    // same classes/totals shape expressed through Context.sql (count
    // DISTINCT + CASE totals + 1-row cross join), sharing
    // q_ldiversity's oracle. CAST(n AS BIGINT) pins count(*)'s type,
    // and the count(*) > counts keep both engines in BIGINT.
    ContractQuery("q_sql_ldiversity", (s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        WITH c AS (
          SELECT event_type, date_trunc('day', ts) AS day,
            CAST(count(*) AS BIGINT) AS n,
            CAST(count(DISTINCT user_id) AS BIGINT) AS n_sensitive
          FROM events GROUP BY event_type, date_trunc('day', ts)),
        t AS (SELECT CAST(sum(n) AS BIGINT) AS total,
            CAST(coalesce(sum(CASE WHEN n_sensitive < 50 THEN n END), 0)
              AS BIGINT) AS risky
          FROM c)
        SELECT event_type, day, n, n_sensitive,
          n_sensitive < 50 AS at_risk,
          t.risky AS rows_at_risk, t.total AS rows_total,
          CAST(t.risky AS DOUBLE) / CAST(t.total AS DOUBLE) AS risk_share
        FROM c, t ORDER BY event_type, day""")
    },
      // same audit through the §2.6 SQL front door -> same oracle
      ldiversityTwinSql),

    // distribution drift between two corpus slices per language stratum;
    // the 10% gate is decided in exact cross-multiplied longs (no float
    // share ever enters the decision), shares emitted as per-row
    // quotients for reporting
    ContractQuery("q_drift", (s, dir) => {
      val d = t(s, dir, "documents")
      graft.functions.Profile.distributionDrift(
          d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1),
          "lang")
        .orderBy("lang")
    },
      // integer-exact drift gate: 10*|n_a*t_b - n_b*t_a| > t_a*t_b
      """WITH a AS (SELECT lang, count(*) AS n_a FROM documents
           WHERE doc_id % 2 = 0 GROUP BY 1),
         b AS (SELECT lang, count(*) AS n_b FROM documents
           WHERE doc_id % 2 = 1 GROUP BY 1),
         j AS (SELECT coalesce(a.lang, b.lang) AS lang,
             coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
           FROM a FULL OUTER JOIN b ON a.lang = b.lang),
         t AS (SELECT CAST(sum(n_a) AS BIGINT) AS t_a,
             CAST(sum(n_b) AS BIGINT) AS t_b FROM j)
         SELECT j.lang, CAST(j.n_a AS BIGINT) AS n_a,
           CAST(j.n_b AS BIGINT) AS n_b, t.t_a, t.t_b,
           CAST(j.n_a AS DOUBLE) / CAST(t.t_a AS DOUBLE) AS p_a,
           CAST(j.n_b AS DOUBLE) / CAST(t.t_b AS DOUBLE) AS p_b,
           abs(j.n_a * t.t_b - j.n_b * t.t_a) * 10 > t.t_a * t.t_b
             AS drifted
         FROM j, t
         ORDER BY lang"""),

    // k-anonymity audit on the (lang, source) quasi-identifier: classes
    // smaller than k=10 are re-identifiable; risk share decided in longs
    ContractQuery("q_kanon", (s, dir) =>
      graft.operators.Expectations.kAnonymity(
          t(s, dir, "documents"), Seq("lang", "source"), k = 10)
        .orderBy("lang", "source"),
      // class sizes and the risk share in exact longs; one quotient per row
      """WITH c AS (SELECT lang, source, count(*) AS n FROM documents
           GROUP BY 1, 2),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS total,
             CAST(coalesce(sum(CASE WHEN n < 10 THEN n END), 0) AS BIGINT)
               AS risky
           FROM c)
         SELECT lang, source, CAST(n AS BIGINT) AS n, n < 10 AS at_risk,
           t.risky AS rows_at_risk, t.total AS rows_total,
           CAST(t.risky AS DOUBLE) / CAST(t.total AS DOUBLE) AS risk_share
         FROM c, t ORDER BY lang, source"""),

    // l-diversity audit (k-anonymity's sensitive-value counterpart): a
    // (event_type, day) class whose events come from < 50 distinct users
    // is re-identifiable however large it is; day stays a TIMESTAMP
    // (date_trunc) on both sides — the engine-portable date idiom
    ContractQuery("q_ldiversity", (s, dir) =>
      graft.operators.Expectations.lDiversity(
          t(s, dir, "events")
            .withColumn("day", date_trunc("day", col("ts"))),
          Seq("event_type", "day"), "user_id", l = 50)
        .orderBy("event_type", "day"),
      ldiversityTwinSql),

    // t-closeness audit completes the privacy triad: per-day sensitive
    // (event_type) distribution vs the global mix, total-variation
    // distance computed on integer cross-multiplied cell counts so the
    // per-class fold is order-independent; one double expr at the end
    ContractQuery("q_tcloseness", (s, dir) =>
      graft.operators.Expectations.tCloseness(
          t(s, dir, "events")
            .withColumn("day", date_trunc("day", col("ts"))),
          Seq("day"), "event_type", t = 0.1)
        .orderBy("day"),
      // t-closeness twin: same integer cross-multiplied TV sum; the
      // closed-form absent-value term (1 - g_in/N) avoids materializing
      // absent (class, value) pairs in either engine
      """WITH e AS (SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
             event_type FROM events),
         cells AS (SELECT day, event_type, CAST(count(*) AS BIGINT) AS c
                   FROM e GROUP BY day, event_type),
         cls AS (SELECT day, CAST(sum(c) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_values FROM cells GROUP BY day),
         gv AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS g
                  FROM cells GROUP BY event_type),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS ntot FROM cells),
         per AS (SELECT day,
             CAST(sum(abs(cells.c * tot.ntot - gv.g * cls.n)) AS BIGINT)
               AS s_abs,
             CAST(sum(gv.g) AS BIGINT) AS g_in,
             max(cls.n) AS n, max(cls.n_values) AS n_values,
             max(tot.ntot) AS ntot
           FROM cells JOIN gv USING (event_type) JOIN cls USING (day)
             CROSS JOIN tot
           GROUP BY day)
         SELECT day, n, n_values,
           round(CAST(0.5 AS DOUBLE) * (CAST(s_abs AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(ntot AS DOUBLE))
             + (CAST(ntot AS DOUBLE) - CAST(g_in AS DOUBLE))
               / CAST(ntot AS DOUBLE)), 6) AS tv_distance,
           CAST(0.5 AS DOUBLE) * (CAST(s_abs AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(ntot AS DOUBLE))
             + (CAST(ntot AS DOUBLE) - CAST(g_in AS DOUBLE))
               / CAST(ntot AS DOUBLE)) > CAST(0.1 AS DOUBLE) AS at_risk
         FROM per ORDER BY day"""),

    // leakage-safe TIME split with a 2-day embargo gap before the eval
    // cutoff: sessions/trends straddling a knife-edge boundary leak
    // across it, so the gap rows are dropped, not assigned. Explicit
    // cutoff literal — reproducible under late-arriving data.
    ContractQuery("q_time_split", (s, dir) =>
      graft.functions.Profile.timeEmbargoSplit(t(s, dir, "events"), "ts",
          "2024-01-24 00:00:00", embargoDays = 2)
        .groupBy("event_type", "split")
        .agg(count(lit(1)).as("n"), min("event_id").as("min_id"),
          max("event_id").as("max_id"))
        .orderBy("event_type", "split"),
      """WITH s AS (
           SELECT event_type, event_id,
             CASE WHEN CAST(ts AS TIMESTAMP)
                    < TIMESTAMP '2024-01-22 00:00:00' THEN 'train'
                  WHEN CAST(ts AS TIMESTAMP)
                    >= TIMESTAMP '2024-01-24 00:00:00' THEN 'eval'
             END AS split
           FROM events)
         SELECT event_type, split, CAST(count(*) AS BIGINT) AS n,
           min(event_id) AS min_id, max(event_id) AS max_id
         FROM s WHERE split IS NOT NULL
         GROUP BY 1, 2 ORDER BY event_type, split"""),

    // differentially-private count release (discrete Laplace / two-sided
    // geometric at eps = ln 2) — the release counterpart to q_kanon's
    // audit; the noise draw is derandomized from the group-key
    // fingerprint (integer bit arithmetic only), so both engines replay
    // the released counts bit-for-bit
    ContractQuery("q_dp_release", (s, dir) =>
      // key-derandomized variant: replayable by the DuckDB twin; the
      // library mechanism (dpNoisedCounts) seeds from a CSPRNG
      graft.operators.Expectations.dpNoisedCountsKeyDerandomized(
          t(s, dir, "documents"), "source")
        .orderBy("source"),
      // replay the derandomized discrete-Laplace draw: FNV-1a of the key
      // in HUGEINT, low 32 bits, sign = bit 0, magnitude = trailing ones
      // of u>>1 via the (y XOR y+1)>>1 mask popcount — all integer, exact
      """WITH c AS (SELECT source, count(*) AS n FROM documents
           GROUP BY source),
         h AS (SELECT source, n,
             list_reduce(
               list_prepend(CAST('14695981039346656037' AS HUGEINT),
                 list_transform(generate_series(1, length(source)),
                   i -> CAST(ord(substr(source, i, 1)) AS HUGEINT))),
               (h, b) -> (xor(h, b) * CAST('1099511628211' AS HUGEINT))
                 % CAST('18446744073709551616' AS HUGEINT)) AS hu
           FROM c),
         u AS (SELECT source, n, CAST(hu % 4294967296 AS BIGINT) AS u
           FROM h),
         z AS (SELECT source, n, u % 2 AS sign, u // 2 AS y FROM u)
         SELECT source,
           CAST(n + (1 - 2 * sign) * bit_count(xor(y, y + 1) // 2)
             AS BIGINT) AS released
         FROM z ORDER BY source""")
  )
}
