package graft
package contract

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.Context
import graft.engine.Context.scratch
import graft.functions.native

import Shared._

/** Sources and sinks: file formats, layouts, skipping and compaction. */
object SourceQueries {

  /** CSV write->read roundtrip of nation plus a delimiter/quote-laden
    * derived column. q_csv_roundtrip and q_csv_interchange deliberately
    * use DIFFERENT writer configs (default comma vs pipe delimiter, with
    * the active delimiter embedded in the data so quoting is forced) so
    * the two contract rows cover two distinct writer paths — a regression
    * in either config surfaces as its own failure, not a duplicate. */
  private def csvRoundtrip(s: SparkSession, dir: String, out: String,
      delimiter: Char): DataFrame = {
    val tricky = t(s, dir, "nation").select(
      col("n_nationkey"), col("n_name"), col("n_regionkey"),
      concat(lit("a,\"b\" " + delimiter), col("n_name"), lit(";c"))
        .as("tricky"))
    graft.sources.Sinks.writeCsv(tricky, out, delimiter = delimiter)
    Context.forSfDir(s, dir)
      .readCsv(out, graft.engine.CsvOptions(delimiter = delimiter,
        schema = Some(StructType(Seq(
          StructField("n_nationkey", IntegerType),
          StructField("n_name", StringType),
          StructField("n_regionkey", IntegerType),
          StructField("tricky", StringType))))))
      .orderBy("n_nationkey")
  }

  /** q_csv_interchange's output dir: a FIXED path by oracle mandate —
    * its DuckDB twin's read_csv names it as a string literal, so two
    * CONCURRENT sweeps could interleave overwrite-then-read on it
    * (accepted: the driver runs sweeps serially). */
  private val csvInterchangeDir = "/tmp/graft_csv_interchange"

  /** 16-bit Morton interleave as plain shift/mask arithmetic — the DuckDB
    * twin of the native ZOrder2 kernel (even bits from x, odd from y). */
  private def mortonSql16(x: String, y: String): String =
    (0 until 16).map { i =>
      s"(((($x) >> $i) & 1) << ${2 * i}) + (((($y) >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")

  val queries: Seq[ContractQuery] = Seq(
    // ---------------- P1 CSV source through the oracle (the reference's
    // ONLY format, ref: src/io/mod.rs:56-59). Both queries write nation —
    // augmented with a column full of delimiters/quotes — as CSV via the
    // engine sink, then read it back via the engine source with a supplied
    // schema. q_csv_roundtrip's oracle is GROUND TRUTH recomputed from the
    // parquet table (write->read is lossless); q_csv_interchange's oracle
    // is DuckDB's read_csv over the same files (a foreign parser reads our
    // RFC 4180 bytes to identical values).
    ContractQuery("q_csv_roundtrip", (s, dir) =>
      csvRoundtrip(s, dir, scratch("csv_roundtrip"), ','),
      // ground truth recomputed from parquet: the roundtrip must be lossless
      """SELECT n_nationkey, n_name, n_regionkey,
           'a,"b" ,' || n_name || ';c' AS tricky
         FROM nation ORDER BY n_nationkey"""),

    // schema evolution on read: two parquet batches with different
    // column sets land in one dataset directory (the standard additive
    // drift of a long-lived 100 TB corpus — new crawls add columns);
    // mergeSchema=true unifies them at read time, old rows null-fill the
    // new column. The oracle recomputes the union-by-name from the base
    // table.
    ContractQuery("q_merge_schema", (s, dir) => {
      val out = scratch("merge_schema")
      val nat = t(s, dir, "nation")
      graft.sources.Sinks.writeParquet(
        nat.filter(col("n_nationkey") < 12)
          .select(col("n_nationkey"), col("n_name")),
        out + "/batch=old")
      graft.sources.Sinks.writeParquet(
        nat.filter(col("n_nationkey") >= 12)
          .select(col("n_nationkey"), col("n_name"),
            col("n_regionkey").as("region_added")),
        out + "/batch=new")
      s.read.option("mergeSchema", "true").parquet(out)
        .select(col("n_nationkey"), col("n_name"), col("region_added"))
        .orderBy("n_nationkey")
    },
      // union-by-name ground truth: pre-drift rows null-fill the added
      // column
      """SELECT n_nationkey, n_name,
           CASE WHEN n_nationkey >= 12 THEN n_regionkey END AS region_added
         FROM nation ORDER BY n_nationkey"""),

    // manifest-based data skipping (the Delta/Iceberg primitive, built
    // directly): range-clustered files + a min/max manifest; the range
    // read opens ONLY overlapping files, re-filters for row exactness,
    // and emits the skip evidence (files_read < files_total) alongside
    // the aggregate so the oracle hash-checks that pruning happened
    ContractQuery("q_manifest_skip", (s, dir) => {
      val out = scratch("manifest_skip")
      graft.sources.Sinks.writeWithManifest(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority")),
        out, "o_totalprice", nFiles = 8)
      val (pruned, nRead, nTotal) =
        graft.sources.Sinks.readPruned(s, out, "o_totalprice",
          100000.0, 150000.0)
      // files_read/files_total stay out of the hashed row (range
      // boundaries are SAMPLED, so the exact split point can jitter);
      // `skipped` is robust: a 50k-wide band can never need all 8 files
      pruned.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          expr("CAST(sum(CAST(o_totalprice AS DECIMAL(22,2))) AS DOUBLE)")
            .as("sum_price"))
        .withColumn("skipped", lit(nRead < nTotal))
        .orderBy("o_orderpriority")
    },
      // row-exact range result; `skipped` is the pruning claim the engine
      // must back with a manifest read of fewer-than-all files
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(22,2))) AS DOUBLE)
             AS sum_price,
           true AS skipped
         FROM orders
         WHERE o_totalprice BETWEEN 100000.0 AND 150000.0
         GROUP BY 1 ORDER BY 1"""),

    // small-file compaction: a deliberately fragmented write (64 tiny
    // files) is compacted+clustered in one pass; the hashed row proves
    // the rewrite is lossless (exact DECIMAL aggregate over the
    // compacted copy) and that files actually merged (`compacted`
    // boolean, robust: 15k rows can never need 64 target-size files)
    ContractQuery("q_compact", (s, dir) => {
      val root = scratch("compact")
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice"))
        .repartition(64).write.mode("overwrite").parquet(s"$root/frag")
      val (nb, na) = graft.sources.Sinks.compact(s, s"$root/frag",
        s"$root/compacted", targetFileBytes = 64L * 1024 * 1024,
        clusterCol = Some("o_orderkey"))
      s.read.parquet(s"$root/compacted")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          expr("CAST(sum(CAST(o_totalprice AS DECIMAL(22,2))) AS DOUBLE)")
            .as("sum_price"))
        .withColumn("compacted", lit(na < nb))
        .orderBy("o_orderpriority")
    },
      // lossless compaction: aggregate over the compacted copy equals the
      // base table; `compacted` is structurally true (see query comment)
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(22,2))) AS DOUBLE)
             AS sum_price,
           true AS compacted
         FROM orders GROUP BY 1 ORDER BY 1"""),

    // PERMISSIVE bad-record handling: a text feed where every 5th row
    // carries an unparsable numeric field is read with an explicit
    // corrupt-record column — the quarantine-not-crash path a 100 TB
    // crawl ingest requires. Counts and key sums split by corruptness;
    // the oracle recomputes both sides from the clean base table
    ContractQuery("q_csv_badrecords", (s, dir) => {
      val out = scratch("badcsv")
      t(s, dir, "nation")
        .select(concat_ws(",", col("n_nationkey"), col("n_name"),
          when(col("n_nationkey") % 5 === 0, lit("not_an_int"))
            .otherwise(col("n_regionkey").cast(StringType))).as("value"))
        .write.mode("overwrite").text(out)
      s.read
        .schema(StructType(Seq(
          StructField("n_nationkey", IntegerType),
          StructField("n_name", StringType),
          StructField("n_regionkey", IntegerType),
          StructField("_corrupt_record", StringType))))
        .option("header", "false")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(out)
        // the aggregate must REFERENCE the fragile column: CSV corruption
        // is only detected for columns the (pruned) parse actually reads,
        // so a projection that dropped n_regionkey would never see the
        // malformed field and _corrupt_record would stay null everywhere
        .select(col("_corrupt_record").isNotNull.as("is_corrupt"),
          col("n_nationkey"), col("n_regionkey"))
        .groupBy("is_corrupt")
        .agg(count(lit(1)).as("n"),
          sum(col("n_nationkey")).cast(LongType).as("key_sum"),
          sum(col("n_regionkey")).cast(LongType).as("region_sum"))
        .orderBy("is_corrupt")
    },
      // every 5th nation row was written unparsable; both sides recomputed
      // (region_sum is NULL for the corrupt group — the field failed parse)
      """SELECT (n_nationkey % 5 = 0) AS is_corrupt,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
           CAST(sum(CASE WHEN n_nationkey % 5 <> 0 THEN n_regionkey END)
             AS BIGINT) AS region_sum
         FROM nation GROUP BY 1 ORDER BY is_corrupt"""),

    // ORC write -> read roundtrip (the second native columnar format):
    // ground truth recomputed by the oracle from the parquet base table,
    // so the roundtrip must preserve every value bit-for-bit
    ContractQuery("q_orc_roundtrip", (s, dir) => {
      val out = scratch("orc_roundtrip")
      graft.sources.Sinks.writeOrc(
        t(s, dir, "supplier").select(col("s_suppkey"), col("s_name"),
          col("s_nationkey"), col("s_acctbal")), out)
      Context.forSfDir(s, dir).readOrc(out).orderBy("s_suppkey")
    },
      // ground truth from the parquet base table — the ORC roundtrip must
      // preserve every value (including the double s_acctbal) bit-for-bit
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
         FROM supplier ORDER BY s_suppkey"""),

    // JSON-lines write -> read roundtrip: schema round-trips through
    // text (longs stay integral, doubles stay exact via shortest-
    // roundtrip serialization), read back with an explicit schema so
    // column types match the parquet ground truth
    ContractQuery("q_json_roundtrip", (s, dir) => {
      val out = scratch("json_roundtrip")
      graft.sources.Sinks.writeJson(
        t(s, dir, "region").select(col("r_regionkey"), col("r_name")), out)
      s.read.schema(StructType(Seq(
          StructField("r_regionkey", LongType),
          StructField("r_name", StringType))))
        .json(out).orderBy("r_regionkey")
    },
      // BIGINT cast matches the explicit LongType read schema on the
      // engine side (JSON numbers surface as long)
      """SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name
         FROM region ORDER BY r_regionkey"""),

    // hive-partitioned write + pruned read-back — the single biggest scan
    // lever at 100 TB: the filter on the partition column is resolved at
    // file-listing time (PartitionFilters in the scan node), so six of the
    // seven year directories are never opened. The oracle recomputes
    // ground truth from the base table. (Beyond-reference: the reference's
    // ListingTable holds exactly one path — src/io/reader/listing/
    // table.rs:14-19 — so it has no partitioned layout to prune.)
    ContractQuery("q_partitioned_scan", (s, dir) => {
      val out = scratch("partitioned_orders")
      graft.sources.Sinks.writeParquet(
        t(s, dir, "orders").withColumn("o_year", year(col("o_orderdate"))),
        out, partitionCols = Seq("o_year"))
      s.read.parquet(out)
        .filter(col("o_year") === 1995)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          expr("CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)")
            .as("total"),
          countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("o_orderstatus")
    },
      // ground truth from the base table: the pruned partitioned read must
      // see exactly the year-1995 rows
      """SELECT o_orderstatus,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust
         FROM orders WHERE year(o_orderdate) = 1995
         GROUP BY o_orderstatus ORDER BY o_orderstatus"""),
    // DYNAMIC partition pruning: the filter lives on a separate dim
    // TABLE (not the fact), so the partitions to read are only known
    // after the dim filter runs — Catalyst injects a
    // dynamicpruningexpression subquery into the fact scan's
    // PartitionFilters (PlanSpec asserts it), and at 100 TB the fact
    // scan opens only the join-surviving year directories. The static
    // variant (q_partitioned_scan) has the filter on the fact column
    // itself; this is the join-driven form every star-schema query needs.
    ContractQuery("q_dpp", (s, dir) => {
      val factOut = scratch("dpp_orders")
      val dimOut = scratch("dpp_years")
      graft.sources.Sinks.writeParquet(
        t(s, dir, "orders").withColumn("o_year", year(col("o_orderdate"))),
        factOut, partitionCols = Seq("o_year"))
      // dim: one row per year with an attribute the filter hits; parquet-
      // backed so the planner cannot constant-fold the filter result, and
      // an EqualTo predicate (not a bare boolean column) so the DPP
      // rule's isLikelySelective check recognizes the dim filter
      graft.sources.Sinks.writeParquet(
        t(s, dir, "orders")
          .select(year(col("o_orderdate")).as("d_year")).distinct()
          .withColumn("focus",
            when(col("d_year").isin(1995, 1996), 1).otherwise(0)),
        dimOut)
      // the stats-based benefit heuristic vetoes DPP on a 7-partition toy
      // store (pruning overhead > bytes saved — correctly); disable
      // useStats so the fallback ratio heuristic decides, which is the
      // branch that fires on a real multi-TB partitioned fact
      s.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
      val fact = s.read.parquet(factOut)
      val dim = s.read.parquet(dimOut).filter(col("focus") === 1)
      fact.join(dim, fact("o_year") === dim("d_year"))
        .groupBy(col("o_year"))
        .agg(count(lit(1)).as("n"),
          expr("CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)")
            .as("total"))
        .orderBy("o_year")
    },
      // join-driven year restriction recomputed from the base table
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
             AS total
         FROM orders
         WHERE year(o_orderdate) IN (1995, 1996)
         GROUP BY 1 ORDER BY 1"""),
    // bucketed co-located join: both sides bucketed on the join key at
    // write time → the read-side sort-merge join needs ZERO Exchange (the
    // 100-TB pattern: shuffle once when the table lands, never again;
    // SinksSpec asserts the plan has no Exchange). Oracle = the same join
    // on the raw tables — bucketing must not change semantics.
    ContractQuery("q_bucketed_join", (s, dir) => {
      import graft.sources.Sinks
      Sinks.writeBucketedTable(
        t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        "graft_q_b_orders", Seq("o_custkey"), numBuckets = 8,
        sortCols = Seq("o_custkey"))
      Sinks.writeBucketedTable(
        t(s, dir, "customer").select("c_custkey", "c_mktsegment"),
        "graft_q_b_customer", Seq("c_custkey"), numBuckets = 8,
        sortCols = Seq("c_custkey"))
      s.table("graft_q_b_orders")
        .join(s.table("graft_q_b_customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          expr("CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)")
            .as("sum_total"))
        .orderBy("c_mktsegment")
    },
      """SELECT c_mktsegment, count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
             AS sum_total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    // distinct writer config from q_csv_roundtrip: pipe-delimited, with
    // the pipe embedded in the data to force delimiter-quoting. The
    // output dir is the FIXED path the oracle's read_csv names as a
    // string literal (see the q_csv_roundtrip comment above) — a
    // pid-suffixed scratch dir here leaves the oracle reading a path
    // that does not exist on a fresh host (it passed only off stale
    // files from before the scratch() change; caught in round 12).
    ContractQuery("q_csv_interchange", (s, dir) =>
      csvRoundtrip(s, dir, csvInterchangeDir, '|'),
      // a foreign parser over the engine-written bytes must see the same
      // values — here over the PIPE-delimited writer config
      s"""SELECT * FROM read_csv('$csvInterchangeDir/*.csv',
           header=true, delim='|', quote='"', escape='"',
           columns={'n_nationkey':'INTEGER','n_name':'VARCHAR',
                    'n_regionkey':'INTEGER','tricky':'VARCHAR'})
         ORDER BY n_nationkey"""),

    // Z-order (Morton) codes — the native ZOrder2 kernel behind
    // Sinks.writeZOrdered's multi-dimensional clustering; inputs masked to
    // 16 bits so the DuckDB twin's shift arithmetic stays in safe range
    ContractQuery("q_zorder", (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          native.zorder2(pmod(col("o_custkey"), lit(65536L)),
            pmod(col("o_orderkey"), lit(65536L))).as("zcode"))
        .orderBy("zcode", "o_orderkey")
        .limit(200),
      s"""SELECT o_orderkey,
            ${mortonSql16("o_custkey % 65536", "o_orderkey % 65536")} AS zcode
          FROM orders ORDER BY zcode, o_orderkey LIMIT 200""")
  )
}
