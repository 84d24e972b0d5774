package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dedup.Dedup
import graft.engine.{Context, Tables}
import graft.functions.native
import graft.multimodal.Multimodal
import graft.operators.Relational
import graft.similarity.Ann
import graft.streaming.Streams

/** Driver contract: one named query per implemented operator (SURVEY.md §2
  * inventory + beyond-reference §7.2 step 9 extensions), each with a DuckDB
  * oracle twin where the semantics are ANSI-SQL-expressible.
  *
  * Determinism rules applied throughout (SURVEY.md §7.4):
  *  - every query ends in a total ORDER BY (unique tiebreaker columns);
  *  - double aggregates go through exact DECIMAL accumulation and are cast
  *    back to DOUBLE (order-independent, bit-identical to the oracle);
  *  - per-row double arithmetic is left raw (IEEE ops on identical inputs
  *    are bit-identical across engines);
  *  - column names are aliased identically on both sides.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Run `body` against a fresh temp feed directory, then delete the
    * directory. Only for bodies whose RESULT is feed-independent (the
    * streaming contract queries return a detached LocalRelation from the
    * memory sink — see Streams.runToMemoryPhased): a bench/verify sweep
    * runs hundreds of these per JVM and must not leak one full table
    * copy of disk per stream query per sweep. Deletion is best-effort —
    * a failure to clean must never fail the query that succeeded. */
  private def withTempFeed(prefix: String)(body: String => DataFrame): DataFrame = {
    val feed = java.nio.file.Files.createTempDirectory(prefix)
    try body(feed.toString)
    finally {
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(feed).iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      // NonFatal only: a VM error or interrupt in cleanup must propagate,
      // not be eaten by best-effort deletion (ADVICE r9 / VERDICT r10)
      } catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Per-PROCESS scratch root for queries that stage intermediate
    * stores/models on local disk (stored-index probes, stored LM models,
    * sink round trips). Suffixing with the JVM pid keeps two sweeps
    * running concurrently on one host from overwriting each other's
    * stores mid-probe; within a process the overwrite-per-run semantics
    * (bounded disk across repeated sweeps) are unchanged. A shutdown
    * hook deletes the root so repeated processes don't accumulate dead
    * scratch trees. */
  private lazy val scratchRoot: String = {
    val d = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_scratch_${ProcessHandle.current().pid()}")
    d.mkdirs()
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(d.toPath).iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case scala.util.control.NonFatal(_) => () }))
    d.getAbsolutePath
  }
  private def scratch(name: String): String = s"$scratchRoot/$name"

  /** Shared builder for the streamed-ingest-store queries: trains IVF on
    * the resident 80% of embeddings, writes the `ingest=base` layer,
    * streams the 20% batch through Streams.indexAppend in two
    * exactly-once micro-batches, and returns (store root, driver-local
    * centroids). ONE body for q_stream_index_append and
    * q_stream_index_compact so the two contract paths can never drift. */
  private def buildStreamedIngestStore(s: SparkSession, dir: String,
      feed: String): (String, DataFrame) = {
    val emb = t(s, dir, "embeddings")
    val base = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val batch = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
    // driver-local centroids (k rows): per-batch assignment must not
    // re-run the training lineage inside foreachBatch
    val cents = graft.similarity.Ivf.localizeCentroids(
      graft.similarity.Ivf.train(base, k = 8, iters = 1))
    val store = scratch("ivf_stream_store")
    // fresh root per run: stale ingest=b* keys from a prior in-process
    // run (JobProfile re-runs a query) must not leak into this run's
    // probe — batch numbering restarts with the fresh checkpoint, and
    // only ingest=base is overwritten by the base write
    org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(store), true)
    graft.similarity.Ivf.writeIngestStore(base, cents, store)
    val in = s"$feed/in"; new java.io.File(in).mkdirs()
    // phase files: each phase ONE atomically-renamed parquet file
    def phase(p: DataFrame): Unit =
      p.coalesce(1).write.mode("append").parquet(in)
    phase(batch.filter(col("vec_id") % 10 === 0)) // lands before start
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val src = ss.readStream.schema(ss.read.parquet(in).schema).parquet(in)
    val q = graft.streaming.Streams.indexAppend(src, cents, store,
      s"$feed/ckpt")
    try {
      q.processAllAvailable()
      phase(batch.filter(col("vec_id") % 10 =!= 0))
      q.processAllAvailable()
    } finally q.stop()
    (store, cents)
  }

  /** Exact decimal view of a 2-dp monetary/quantity double. */
  private def dec2(c: Column): Column = c.cast(DecimalType(12, 2))
  /** Order-independent SUM of a 2-dp double, returned as DOUBLE. */
  private def dsum(c: Column): Column = sum(dec2(c)).cast(DoubleType)
  // ===================================================================
  // Flagship (driver smoke-checks rows > 0 on sf0.001).
  // The reference flagship shape (ref: README.md:132-141): left join +
  // filter + group-by + order-by-aggregate-desc.
  // ===================================================================
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders")
    c.filter(col("c_acctbal") > 0)
      .join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(col("c_mktsegment"))
      .agg(count(col("o_orderkey")).as("n_orders"),
        dsum(col("o_totalprice")).as("sum_total"))
      .orderBy(col("sum_total").desc_nulls_last, col("c_mktsegment"))
  }

  // ===================================================================
  // Query inventory
  // ===================================================================
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---------------- L1 Scan (ref: src/plan/logical/scan.rs:12-56)
    "q_scan" -> ((s, dir) =>
      t(s, dir, "nation").orderBy("n_nationkey")),

    // ---------------- P1 CSV source through the oracle (the reference's
    // ONLY format, ref: src/io/mod.rs:56-59). Both queries write nation —
    // augmented with a column full of delimiters/quotes — as CSV via the
    // engine sink, then read it back via the engine source with a supplied
    // schema. q_csv_roundtrip's oracle is GROUND TRUTH recomputed from the
    // parquet table (write->read is lossless); q_csv_interchange's oracle
    // is DuckDB's read_csv over the same files (a foreign parser reads our
    // RFC 4180 bytes to identical values). The output dirs are FIXED paths
    // by oracle mandate — the DuckDB twin's read_csv references them as
    // string literals, so per-invocation temp dirs (the q_manifest_skip
    // pattern) are not available here; two CONCURRENT sweeps could
    // interleave overwrite-then-read on these two dirs (accepted: the
    // driver runs sweeps serially).
    "q_csv_roundtrip" -> ((s, dir) =>
      csvRoundtrip(s, dir, scratch("csv_roundtrip"), ',')),

    // schema evolution on read: two parquet batches with different
    // column sets land in one dataset directory (the standard additive
    // drift of a long-lived 100 TB corpus — new crawls add columns);
    // mergeSchema=true unifies them at read time, old rows null-fill the
    // new column. The oracle recomputes the union-by-name from the base
    // table.
    "q_merge_schema" -> ((s, dir) => {
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
    }),

    // manifest-based data skipping (the Delta/Iceberg primitive, built
    // directly): range-clustered files + a min/max manifest; the range
    // read opens ONLY overlapping files, re-filters for row exactness,
    // and emits the skip evidence (files_read < files_total) alongside
    // the aggregate so the oracle hash-checks that pruning happened
    "q_manifest_skip" -> ((s, dir) => {
      // per-invocation temp dir: a fixed /tmp constant would let two
      // concurrent sweeps race on the overwrite-then-read of the layout
      val out = java.nio.file.Files
        .createTempDirectory("graft_manifest_skip").toString
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
    }),

    // small-file compaction: a deliberately fragmented write (64 tiny
    // files) is compacted+clustered in one pass; the hashed row proves
    // the rewrite is lossless (exact DECIMAL aggregate over the
    // compacted copy) and that files actually merged (`compacted`
    // boolean, robust: 15k rows can never need 64 target-size files)
    "q_compact" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_compact").toString
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
    }),

    // PERMISSIVE bad-record handling: a text feed where every 5th row
    // carries an unparsable numeric field is read with an explicit
    // corrupt-record column — the quarantine-not-crash path a 100 TB
    // crawl ingest requires. Counts and key sums split by corruptness;
    // the oracle recomputes both sides from the clean base table
    "q_csv_badrecords" -> ((s, dir) => {
      val out = java.nio.file.Files
        .createTempDirectory("graft_badcsv").toString
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
    }),

    // ORC write -> read roundtrip (the second native columnar format):
    // ground truth recomputed by the oracle from the parquet base table,
    // so the roundtrip must preserve every value bit-for-bit
    "q_orc_roundtrip" -> ((s, dir) => {
      val out = scratch("orc_roundtrip")
      graft.sources.Sinks.writeOrc(
        t(s, dir, "supplier").select(col("s_suppkey"), col("s_name"),
          col("s_nationkey"), col("s_acctbal")), out)
      Context.forSfDir(s, dir).readOrc(out).orderBy("s_suppkey")
    }),

    // JSON-lines write -> read roundtrip: schema round-trips through
    // text (longs stay integral, doubles stay exact via shortest-
    // roundtrip serialization), read back with an explicit schema so
    // column types match the parquet ground truth
    "q_json_roundtrip" -> ((s, dir) => {
      val out = scratch("json_roundtrip")
      graft.sources.Sinks.writeJson(
        t(s, dir, "region").select(col("r_regionkey"), col("r_name")), out)
      s.read.schema(StructType(Seq(
          StructField("r_regionkey", LongType),
          StructField("r_name", StringType))))
        .json(out).orderBy("r_regionkey")
    }),

    // hive-partitioned write + pruned read-back — the single biggest scan
    // lever at 100 TB: the filter on the partition column is resolved at
    // file-listing time (PartitionFilters in the scan node), so six of the
    // seven year directories are never opened. The oracle recomputes
    // ground truth from the base table. (Beyond-reference: the reference's
    // ListingTable holds exactly one path — src/io/reader/listing/
    // table.rs:14-19 — so it has no partitioned layout to prune.)
    "q_partitioned_scan" -> ((s, dir) => {
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
    }),
    // DYNAMIC partition pruning: the filter lives on a separate dim
    // TABLE (not the fact), so the partitions to read are only known
    // after the dim filter runs — Catalyst injects a
    // dynamicpruningexpression subquery into the fact scan's
    // PartitionFilters (PlanSpec asserts it), and at 100 TB the fact
    // scan opens only the join-surviving year directories. The static
    // variant (q_partitioned_scan) has the filter on the fact column
    // itself; this is the join-driven form every star-schema query needs.
    "q_dpp" -> ((s, dir) => {
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
    }),
    // bucketed co-located join: both sides bucketed on the join key at
    // write time → the read-side sort-merge join needs ZERO Exchange (the
    // 100-TB pattern: shuffle once when the table lands, never again;
    // SinksSpec asserts the plan has no Exchange). Oracle = the same join
    // on the raw tables — bucketing must not change semantics.
    "q_bucketed_join" -> ((s, dir) => {
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
    }),

    // distinct writer config from q_csv_roundtrip: pipe-delimited, with
    // the pipe embedded in the data to force delimiter-quoting. The
    // output dir is the FIXED path the oracle's read_csv names as a
    // string literal (see the q_csv_roundtrip comment above) — a
    // pid-suffixed scratch dir here leaves the oracle reading a path
    // that does not exist on a fresh host (it passed only off stale
    // files from before the scratch() change; caught in round 12).
    "q_csv_interchange" -> ((s, dir) =>
      csvRoundtrip(s, dir, "/tmp/graft_csv_interchange", '|')),

    // ---------------- L2 Projection + arithmetic expressions
    // (ref: src/plan/logical/projection.rs, binary ops +,-,*,/)
    "q_projection" -> ((s, dir) =>
      Relational.project(t(s, dir, "lineitem"), Seq(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("net_price"),
        (col("l_quantity") + col("l_tax")).as("qty_plus_tax"),
        (col("l_extendedprice") - col("l_discount")).as("price_minus_disc"),
        (col("l_extendedprice") / (col("l_quantity") + lit(1.0))).as("unit_price")))
        .orderBy("l_orderkey", "l_linenumber", "net_price", "qty_plus_tax",
          "price_minus_disc", "unit_price")),

    // ---------------- L3 Filter: all 12 binary operators
    // (ref: src/expression/operator.rs:5-18 — Eq NotEq Lt LtEq Gt GtEq
    //  Plus Minus Multiply Divide And Or)
    "q_filter" -> ((s, dir) =>
      Relational.filter(t(s, dir, "lineitem"),
        ((col("l_quantity") > 30.0 && col("l_discount") <= 0.05) ||
          (col("l_quantity") + col("l_tax") < 5.0 && col("l_returnflag") === "R")) &&
          col("l_linestatus") =!= "X" &&
          col("l_extendedprice") * 0.9 >= 100.0 &&
          col("l_extendedprice") - col("l_discount") < 99000.0 &&
          col("l_extendedprice") / 2.0 >= 50.0 &&
          col("l_partkey") < 100000)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_discount")),

    // ---------------- L6 Limit (fetch) — ref: src/plan/logical/limit.rs
    "q_limit" -> ((s, dir) =>
      Relational.limit(
        t(s, dir, "lineitem").select("l_orderkey", "l_linenumber")
          .orderBy("l_orderkey", "l_linenumber"), 0, Some(100))),

    // ---------------- L6 Limit (skip+fetch / OFFSET)
    "q_offset" -> ((s, dir) =>
      Relational.limit(
        t(s, dir, "lineitem").select("l_orderkey", "l_linenumber")
          .orderBy("l_orderkey", "l_linenumber"), 50, Some(100))),

    // ---------------- L8 Distinct (ref: src/plan/logical/distinct.rs)
    "q_distinct" -> ((s, dir) =>
      Relational.distinct(
        t(s, dir, "lineitem").select("l_returnflag", "l_linestatus"))
        .orderBy("l_returnflag", "l_linestatus")),

    // ---------------- L5 Sort: multi-key, mixed asc/desc
    // (ref: src/plan/logical/sort.rs; per-key asc/desc)
    "q_sort" -> ((s, dir) =>
      t(s, dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy(col("o_orderstatus").asc, col("o_totalprice").desc,
          col("o_orderkey").asc)),

    // ---------------- L4 Aggregate, no groups (ref: P5 no_groups.rs)
    // All 5 functions: COUNT SUM AVG MIN MAX (ref: §2.4)
    "q_agg_nogroup" -> ((s, dir) =>
      t(s, dir, "lineitem").agg(
        count(lit(1)).as("cnt_all"),
        count(col("l_quantity")).as("cnt_qty"),
        dsum(col("l_quantity")).as("sum_qty"),
        (sum(dec2(col("l_quantity"))).cast(DoubleType) /
          count(col("l_quantity"))).as("avg_qty"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        min(col("l_returnflag")).as("min_flag"),
        max(col("l_returnflag")).as("max_flag"))),

    // ---------------- L4 grouped aggregate — TPC-H Q1 shape
    // (ref: P6 row_hash.rs grouped hash aggregation; correct semantics,
    //  not the reference's hash-collision/AVG-cast bugs — SURVEY.md §7.4)
    "q_agg_group" -> ((s, dir) =>
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
        .orderBy("l_returnflag", "l_linestatus")),

    // ---------------- aggregate null semantics (COUNT skips nulls,
    // ref: count.rs:93-98; AVG/SUM null-skipping, ref: §2.4 table)
    "q_agg_nulls" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(nullif(col("l_returnflag"), lit("R")).as("flag_or_null"),
          nullif(col("l_quantity"), lit(17.0)).as("qty_or_null"))
        .agg(
          count(lit(1)).as("cnt_all"),
          count(col("flag_or_null")).as("cnt_flag"),
          count(col("qty_or_null")).as("cnt_qty"),
          dsum(col("qty_or_null")).as("sum_qty"),
          min(col("qty_or_null")).as("min_qty"),
          max(col("flag_or_null")).as("max_flag"))),

    // ---------------- L7 inner equi-join + aggregate
    // (ref: P8 hash_join.rs; Catalyst picks broadcast-hash here since the
    //  dim side is small — at 100 TB this is the broadcast-dim pattern)
    "q_join_inner" -> ((s, dir) => {
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
      Relational.join(o, broadcast(c), Seq("o_custkey" -> "c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
        .orderBy("c_mktsegment")
    }),

    // ---------------- L7 left outer join: unmatched build rows null-padded
    // (ref: hash_join.rs left-join visited bitmap; COUNT(null)=0)
    "q_join_left" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      Relational.join(c, o, Seq("c_custkey" -> "o_custkey"), "left")
        .groupBy(c("c_custkey"), col("c_name"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          dsum(col("o_totalprice")).as("sum_total"))
        .orderBy("c_custkey")
    }),

    // ---------------- left join raw rows: null padding visible
    "q_join_left_rows" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      Relational.join(c, o, Seq("c_custkey" -> "o_custkey"), "left")
        .select(c("c_custkey"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("c_custkey").asc, col("o_orderkey").asc_nulls_first)
    }),

    // ---------------- duplicate-key fan-out join
    // (ref: dataframe.rs:518-543 duplicate-key cases; lineitem⋈orders
    //  fans out multiple lines per order)
    "q_join_fanout" -> ((s, dir) => {
      val l = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      Relational.join(l, o, Seq("l_orderkey" -> "o_orderkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("o_orderstatus"),
          col("o_totalprice"))
        .orderBy("l_orderkey", "l_linenumber", "o_orderstatus", "o_totalprice")
    }),

    // ---------------- equi-join + non-equi residual filter
    // (ref: JoinFilter, src/plan/physical/joins/utils.rs:62-100)
    "q_join_residual" -> ((s, dir) => {
      val l = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      Relational.join(l, o, Seq("l_orderkey" -> "o_orderkey"),
          residual = Some(col("l_extendedprice") > col("o_totalprice") * 0.5))
        .select(col("l_orderkey"), col("l_linenumber"), col("o_totalprice"))
        .orderBy("l_orderkey", "l_linenumber", "o_totalprice")
    }),

    // ---------------- empty-key join → cross + theta filter
    // (ref: NestedLoopJoinExec path, planner.rs:186-194)
    "q_cross_theta" -> ((s, dir) => {
      val r = t(s, dir, "region"); val n = t(s, dir, "nation")
      Relational.join(r, n, Seq.empty, "inner",
          Some(col("r_regionkey") < col("n_regionkey")))
        .select(col("r_name"), col("n_name"))
        .orderBy("r_name", "n_name")
    }),

    // ---------------- SQL front door (ref: §2.6 SessionContext::sql with
    // catalog validation; grammar superset via Spark SQL)
    "q_sql" -> ((s, dir) => {
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
    }),

    // multi-join analytics, TPC-H Q3 shape: revenue top-10 by order
    "q_mjoin_topk" -> ((s, dir) => {
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
    }),

    // multi-join analytics, TPC-H Q5 shape: revenue by nation
    "q_mjoin_nation" -> ((s, dir) => {
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
    }),

    // ================= beyond-reference relational =================

    // set ops (absent in reference — SURVEY.md §2.5)
    "q_union" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_custkey").as("k"))
        .union(t(s, dir, "orders").select(col("o_custkey").as("k")))
        .distinct().orderBy("k")),
    "q_intersect" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_custkey").as("k"))
        .intersect(t(s, dir, "orders").select(col("o_custkey").as("k")))
        .orderBy("k")),
    "q_except" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_custkey").as("k"))
        .except(t(s, dir, "orders").select(col("o_custkey").as("k")))
        .orderBy("k")),

    // window functions (absent in reference — SURVEY.md §2.5)
    "q_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).cast(LongType).as("rn"))
        .filter(col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    }),
    "q_window_running" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          sum(dec2(col("o_totalprice"))).over(w).cast(DoubleType).as("running_total"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // running DISTINCT count per key — Spark has no COUNT(DISTINCT) over
    // windows, so the engine expresses it as size(collect_set) over the
    // same frame (set size bounded by the column's cardinality; window
    // partitioned by user, never global)
    "q_window_distinct" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          size(collect_set(col("event_type")).over(w)).cast(LongType)
            .as("n_types"))
        .orderBy("user_id", "event_id")
    }),

    // scalar string functions (absent in reference — SURVEY.md §2.5)
    "q_string_funcs" -> ((s, dir) =>
      t(s, dir, "nation").select(
        col("n_nationkey"),
        upper(col("n_name")).as("uname"),
        lower(col("n_name")).as("lname"),
        substring(col("n_name"), 1, 3).as("prefix3"),
        length(col("n_name")).as("name_len"),
        concat(col("n_name"), lit("_"), col("n_regionkey").cast(StringType)).as("tagged"),
        ltrim(rtrim(col("n_name"))).as("trimmed"))
        .orderBy("n_nationkey")),

    // date/time functions (absent in reference)
    "q_date_funcs" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("yr", "mo")),

    // CASE WHEN (absent in reference)
    "q_case_when" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(when(col("l_quantity") < 10, "low")
          .when(col("l_quantity") < 30, "mid")
          .otherwise("high").as("bucket"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("total"))
        .orderBy("bucket")),

    // IN / BETWEEN / LIKE / IS NULL predicates (absent in reference)
    "q_predicates" -> ((s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderstatus").isin("F", "O") &&
          col("o_totalprice").between(1000.0, 50000.0) &&
          col("o_orderpriority").like("%1%") &&
          col("o_orderdate").isNotNull)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")),

    // DISTINCT aggregates (absent in reference — SURVEY.md §2.5)
    "q_agg_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_orderkey")).as("n_orders"),
          countDistinct(col("l_partkey")).as("n_parts"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")),

    // PIVOT (wide aggregation; absent in reference)
    "q_pivot" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("l_returnflag")),

    // null-safe equality (<=>; absent in reference)
    "q_nullsafe_eq" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(nullif(col("l_returnflag"), lit("N")).as("f1"),
          nullif(col("l_linestatus"), lit("O")).as("f2"))
        .groupBy((col("f1") <=> col("f2")).as("both_null_or_equal"))
        .agg(count(lit(1)).as("n"))
        .orderBy("both_null_or_equal")),

    // exact percentiles (absent in reference — no median/percentiles
    // §2.5) via distributed rank selection: Spark's exact `percentile`
    // aggregate buffers the WHOLE group in one ObjectHashAggregate state
    // (OOM once a group outgrows an executor); exactPercentiles keeps
    // memory flat with range-bucketed spillable sorts + prefix offsets
    "q_percentile" -> ((s, dir) =>
      graft.operators.Analytics.exactPercentiles(
          t(s, dir, "orders"), Seq("o_orderpriority"), "o_totalprice",
          Seq(("p50", 0.5), ("p90", 0.9)), countCol = Some("n"))
        .orderBy("o_orderpriority")),

    // 5%-trimmed mean per priority — the robust location estimate next
    // to q_winsorize's clamp; rank-selected middle via rankedByGroup
    // (flat memory), DECIMAL-exact sum, one double division
    "q_trimmed_mean" -> ((s, dir) =>
      graft.operators.Analytics.trimmedMean(
          t(s, dir, "orders"), Seq("o_orderpriority"), "o_totalprice",
          trim = 0.05)
        .orderBy("o_orderpriority")),

    // decile summary table (score-calibration report): bucket by exact
    // rank — decile = (rn−1)·10 div n from the flat-memory rank spine,
    // NOT ntile over an unpartitioned window. Counts are rank-determined
    // and boundary ties are value-equal, so min/max/sum hash exactly
    "q_deciles" -> ((s, dir) => {
      val r = graft.operators.Analytics.rankedByGroup(
        t(s, dir, "orders"), Nil, "o_totalprice")
      r.select(expr("((__rn - 1) * 10) div __n").as("decile"), col("__v"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_rows"), min(col("__v")).as("lo"),
          max(col("__v")).as("hi"),
          expr("CAST(sum(CAST(__v AS DECIMAL(22,2))) AS DOUBLE)")
            .as("sum_price"))
        .orderBy("decile")
    }),

    // aggregate FILTER clauses (per-aggregate predicates — absent in
    // reference; distinct from count_if: any aggregate takes a filter)
    "q_agg_filter" -> ((s, dir) =>
      t(s, dir, "orders").groupBy(col("o_orderstatus")).agg(
        expr("count(*) FILTER (WHERE o_totalprice > 200000.0)").as("n_big"),
        expr("""CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
             FILTER (WHERE o_orderpriority LIKE '%1%') AS DOUBLE)""")
          .as("urgent_total"))
        .orderBy("o_orderstatus")),

    // sketch aggregates: t-digest approximate percentiles. The sketch
    // estimate is engine-specific, so it never enters the hashed output:
    // the contract emits the exact median plus an in-query within_bound
    // boolean (approx between exact p45 and p55 — the SketchSpec bound),
    // and the DuckDB twin computes the exact side and expects `true`.
    "q_approx_percentile" -> ((s, dir) => {
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
    }),

    // sketch aggregates: HLL approximate distinct. Same oracle shape:
    // emit the exact count plus within_bound = |approx-exact| <= 3*rsd*exact
    // (default rsd 0.05 → 15%); the DuckDB twin recomputes the exact side.
    "q_approx_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_orderkey")).as("approx_orders"),
          countDistinct(col("l_orderkey")).as("exact_orders"))
        .select(col("l_returnflag"), col("exact_orders"),
          (abs(col("approx_orders").cast(DoubleType) -
              col("exact_orders").cast(DoubleType)) <=
            lit(0.15) * col("exact_orders").cast(DoubleType)).as("within_bound"))
        .orderBy("l_returnflag")),

    // JSON extraction (absent in reference)
    "q_json" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast(LongType).as("k_val"))
        .orderBy("event_id")),

    // schema-full JSON parsing (from_json with an explicit schema — the
    // scale path: one parse to a typed struct vs per-path re-parsing)
    "q_from_json" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          from_json(col("props"), StructType(Seq(
            StructField("k", LongType)))).getField("k").as("k_val"))
        .orderBy("event_id")),

    // map type: build from arrays, lookup, cardinality
    "q_map_funcs" -> ((s, dir) =>
      t(s, dir, "nation")
        .select(col("n_nationkey"),
          map_from_arrays(
            array(lit("nation"), lit("region")),
            array(col("n_nationkey"), col("n_regionkey").cast(LongType)))
            .as("m"))
        .select(col("n_nationkey"),
          element_at(col("m"), "region").as("region_val"),
          size(col("m")).as("m_size"))
        .orderBy("n_nationkey")),

    // array functions: collect_set + sort (deterministic), size, element,
    // array_join (array itself serialized to CSV string — the driver's
    // pandas compare can't sort raw array cells)
    "q_array_funcs" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sort_array(collect_set(year(col("o_orderdate")))).as("yrs"))
        .select(col("o_custkey"),
          array_join(col("yrs").cast(ArrayType(StringType)), ",").as("yrs_csv"),
          size(col("yrs")).as("n_yrs"),
          element_at(col("yrs"), 1).as("first_yr"))
        .orderBy("o_custkey")),

    // regex functions: extract + replace-all
    "q_regex" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          regexp_extract(col("text"), "^(\\S+)", 1).as("first_tok"),
          regexp_replace(substring(col("text"), 1, 40), "[aeiou]", "_").as("masked"))
        .orderBy("doc_id")),

    // tumbling event-time window aggregation (batch form of the
    // streaming operator in graft.streaming.Streams)
    "q_events_hourly" -> ((s, dir) =>
      Streams.hourlyTypeCounts(t(s, dir, "events"))
        .orderBy("hour_start", "event_type")),

    // stream-stream interval join (click -> views within 10 min), run on
    // the batch path; the same builder is watermark-bounded in streaming
    "q_interval_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      Streams.intervalJoin(ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "view"), "10 minutes")
        .orderBy("user_id", "l_id", "r_id")
    }),

    // session windows (dynamic-length event-time windows)
    "q_session_window" -> ((s, dir) =>
      Streams.userSessions(t(s, dir, "events"), gap = "30 minutes")
        .orderBy("user_id", "session_start_ms")),

    // stateful sessionization (flatMapGroupsWithState, batch mode): one row
    // per gap-closed session — oracle is the SQL gaps-and-islands twin
    "q_sessionize" -> ((s, dir) => {
      val sp = s; import sp.implicits._
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value")).as[Streams.Event]
      Streams.sessionize(ev).toDF().orderBy("user_id", "session_start_ms")
    }),

    // streaming exact dedup (dropDuplicatesWithinWatermark) driven as a
    // REAL stream: the events table feeds a file-source stream, the
    // watermarked dedup state keeps one row per (user_id, event_type),
    // and the memory sink materializes the survivors. All files land in
    // the first micro-batch (no trigger cap), so no state is evicted
    // mid-run and the surviving key set is exactly the batch distinct —
    // which row per key survives is engine-arbitrary, so the hashed
    // output aggregates to per-type distinct-user counts. Multi-batch
    // eviction behavior is covered behaviorally in StreamingSpec.
    "q_stream_dedup" -> ((s, dir) => withTempFeed("graft_sdedup") { feed =>
      t(s, dir, "events").select(col("ts"), col("user_id"),
          col("event_type"))
        .write.mode("overwrite").parquet(feed)
      // state width = the stream session's shuffle partitions (one state
      // store per partition per batch) — the q_stream_join idiom: a
      // session CLONE right-sizes it to the bounded feed without touching
      // the shared session. This was the worst anti-scaler in the r12
      // driver data (32-core run 4.5x SLOWER than 8-core: 32 state-store
      // tasks per micro-batch on a tiny batch is pure per-task overhead);
      // at production volume this same knob is what you RAISE.
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "4")
      val src = ss.readStream.schema(ss.read.parquet(feed).schema)
        .parquet(feed)
      val streamed = graft.streaming.Streams.streamingDedup(
        src, Seq("user_id", "event_type"), watermark = "1 hour")
      val name = "sdedup_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      graft.streaming.Streams.runToMemory(streamed, name,
          org.apache.spark.sql.streaming.OutputMode.Append())
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_keys"))
        .orderBy("event_type")
    }),

    // REAL stream-stream join: click and view FILE-SOURCE streams, BOTH
    // watermarked, joined on user within [ts, ts+10min] — the
    // state-evictable shape (watermark on each side + time-bounded
    // condition) that runs with bounded memory on unbounded input. Inner
    // matches emit eagerly, so a finite stream converges to exactly the
    // batch join; the twin replays it as ordinary SQL.
    "q_stream_join" -> ((s, dir) => withTempFeed("graft_sjoin") { feed =>
      // every 4th user: the stream-stream machinery (dual watermarked
      // state stores, time-bounded eviction) is what's under contract;
      // state volume is not — the un-filtered shape is q_interval_join
      val ev = t(s, dir, "events").filter(col("user_id") % 4 === 0)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"))
      ev.filter(col("event_type") === "click").coalesce(4)
        .write.mode("overwrite").parquet(s"$feed/clicks")
      ev.filter(col("event_type") === "view").coalesce(4)
        .write.mode("overwrite").parquet(s"$feed/views")
      // state width = the stream session's shuffle partitions (one state
      // store per partition per batch). A session CLONE right-sizes it to
      // the bounded feed without touching the shared session — at
      // production volume this same knob is what you RAISE.
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "4")
      def src(p: String) = ss.readStream
        .schema(ss.read.parquet(p).schema).parquet(p)
      val joined = graft.streaming.Streams.intervalJoin(
        src(s"$feed/clicks"), src(s"$feed/views"), "10 minutes")
      val name = "sjoin_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      graft.streaming.Streams.runToMemory(joined, name,
          org.apache.spark.sql.streaming.OutputMode.Append())
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("user_id")).as("n_users"))
    }),

    // STREAMING near-dup candidate generation: the codegen'd SimHash64
    // native expression runs inside micro-batches, docs bucket by
    // 16-bit simhash chunks (the q_dedup_simhash pigeonhole), and the
    // Complete-mode counts converge to the batch bucket census — the
    // shape of an always-on ingest dedup front end. The twin replays
    // the FNV simhash bit-exactly in HUGEINT and rebuilds the chunk
    // values from the bit list
    "q_stream_neardup" -> ((s, dir) => withTempFeed("graft_sneardup") { feed =>
      t(s, dir, "documents").select(col("doc_id"), col("text"))
        .coalesce(4).write.mode("overwrite").parquet(feed)
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "4")
      val src = ss.readStream.schema(ss.read.parquet(feed).schema)
        .parquet(feed)
      val chunkVals = array((0 until 4).map(i =>
        shiftrightunsigned(col("sh"), i * 16)
          .bitwiseAND(lit(0xffffL))): _*)
      val buckets = src
        .select(col("doc_id"), native.simhash64(col("text")).as("sh"))
        .select(col("doc_id"), posexplode(chunkVals)
          .as(Seq("chunk_id", "chunk_val")))
        .groupBy("chunk_id", "chunk_val").agg(count(lit(1)).as("c"))
      val name = "sneardup_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      graft.streaming.Streams.runToMemory(buckets, name,
          org.apache.spark.sql.streaming.OutputMode.Complete())
        .filter(col("c") > 1L)
        .agg(count(lit(1)).as("n_hot_buckets"),
          sum(col("c") * (col("c") - lit(1L))).as("p2"))
        .select(col("n_hot_buckets"),
          expr("p2 div 2").as("n_candidate_pairs"))
    }),

    // STREAMING ANN index maintenance: the resident 80% is trained and
    // stored as the `ingest=base` layer (the nightly index), then the
    // 20% batch arrives as a real two-phase file-source stream whose
    // micro-batches are assigned to the FROZEN centroids and written
    // EXACTLY-ONCE under their own ingest=b<batchId> keys
    // (Streams.indexAppend — idempotent overwrite per batch, so a
    // crash-replayed batch cannot double rows). Assignment being a
    // deterministic per-row function, the streamed store holds the same
    // rows as a batch append — so the probe result and the twin are
    // q_ann_incremental's verbatim. The store is overwritten per run
    // under the per-process scratch root; feed + checkpoint are
    // temp-scoped.
    "q_stream_index_append" -> ((s, dir) => withTempFeed("graft_sindex") { feed =>
      val (store, cents) = buildStreamedIngestStore(s, dir, feed)
      graft.similarity.Ivf.ivfTopKFromStore(store,
          Ann.selfQueries(t(s, dir, "embeddings"), 10), cents,
          k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    }),

    // index-store COMPACTION (the maintenance step of the always-on
    // ingest lifecycle): the same exactly-once streamed store, folded
    // into a fresh single-base root — every micro-batch adds ~one file
    // per touched cell, so an unbounded feed means unbounded file
    // counts; compaction is one read + one range-clustered rewrite (no
    // centroid work — rows are already assigned). The in-line require
    // gates that compaction actually shrank the file count, and the
    // probe of the COMPACTED store carries the same rows — so the twin
    // is q_ann_incremental's verbatim, shared with the append query
    "q_stream_index_compact" -> ((s, dir) => withTempFeed("graft_sindexc") { feed =>
      val (store, cents) = buildStreamedIngestStore(s, dir, feed)
      val compacted = scratch("ivf_compacted_store")
      org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(compacted), true)
      val (before, after) =
        graft.similarity.Ivf.compactIngestStore(s, store, compacted)
      require(after < before,
        s"compaction must shrink the store: $before -> $after files")
      graft.similarity.Ivf.ivfTopKFromStore(compacted,
          Ann.selfQueries(t(s, dir, "embeddings"), 10), cents,
          k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    }),

    // watermark LATE-DATA accounting, driven as a real two-phase stream:
    // phase 1 feeds on-time rows (even users, hours [0,4)) — the
    // watermark advances to max(ts)-30min and Append mode emits the
    // closed hour windows; phase 2 feeds the stragglers (odd users,
    // same hours) plus hours [4,6). Stragglers whose window closed in
    // phase 1 are DROPPED by the engine; stragglers for the still-open
    // hour-3 window are counted. The twin replays the exact semantics:
    // wm1 from phase-1 data gates which phase-2 rows count, wm2 gates
    // which windows were ever emitted (hour 5 never closes). A hash
    // match makes Spark's watermark drop/eviction rule a verified
    // contract, not a doc claim
    "q_stream_late" -> ((s, dir) => withTempFeed("graft_slate") { feed =>
      val h4 = lit("2024-01-01 04:00:00").cast(TimestampType)
      val h6 = lit("2024-01-01 06:00:00").cast(TimestampType)
      val ev = t(s, dir, "events")
        .select(col("ts"), col("user_id"), col("event_type"))
      // phase-0 feed lands BEFORE the query starts → one deterministic
      // first batch; later phases are single atomically-renamed files
      ev.filter(col("user_id") % 2 === 0 && col("ts") < h4)
        .coalesce(1).write.mode("append").parquet(feed)
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "4")
      val src = ss.readStream.schema(ss.read.parquet(feed).schema)
        .parquet(feed)
      val name = "slate_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val late = ev.filter(
        (col("user_id") % 2 === 1 && col("ts") < h4) ||
          (col("ts") >= h4 && col("ts") < h6))
      graft.streaming.Streams.runToMemoryPhased(
          graft.streaming.Streams.windowedCounts(src),
          name, org.apache.spark.sql.streaming.OutputMode.Append(),
          Seq(() => (),
            () => late.coalesce(1).write.mode("append").parquet(feed)))
        .select(col("window.start").as("window_start"),
          col("event_type"), col("n"))
        .orderBy("window_start", "event_type")
    }),

    // semi join (EXISTS) — absent in reference (JoinType has 2 variants,
    // ref: src/plan/logical/join.rs:14-17)
    "q_join_semi" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      c.join(o.filter(col("o_totalprice") > 300000.0),
          c("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }),

    // anti join (NOT EXISTS)
    "q_join_anti" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      c.join(o.filter(col("o_totalprice") > 300000.0),
          c("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }),

    // full outer join of two derived sides (padding on both sides)
    "q_join_full" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val a = o.filter(col("o_totalprice") > 400000.0)
        .groupBy(col("o_custkey").as("ka")).agg(count(lit(1)).as("n_big"))
      val b = o.filter(col("o_orderpriority").like("%1%"))
        .groupBy(col("o_custkey").as("kb")).agg(count(lit(1)).as("n_pri"))
      a.join(b, a("ka") === b("kb"), "full")
        .select(coalesce(col("ka"), col("kb")).as("k"), col("n_big"), col("n_pri"))
        .orderBy("k")
    }),

    // ROLLUP subtotals (grouping sets family — absent in reference).
    // Written single-phase on purpose: the injected optimizer rule
    // graft.plans.PreAggGroupingSets rewrites it to pre-aggregate before
    // the Expand, so grouping-set expansion replicates |distinct groups|
    // rows instead of the full fact table. The oracle verifies the
    // rule-rewritten plan produces the single-phase SQL result.
    "q_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // HAVING (post-aggregation filter)
    "q_having" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .filter(col("n") >= 18)
        .orderBy("o_custkey")),

    // scalar subquery (absent in reference — sql/expr.rs:120-124 rejects)
    "q_subquery_scalar" -> ((s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_totalprice > 1.9 * (
          SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / count(*)
          FROM orders)
        ORDER BY o_orderkey""")
    }),

    // correlated EXISTS subquery
    "q_subquery_exists" -> ((s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        SELECT p_partkey, p_name FROM part
        WHERE EXISTS (SELECT 1 FROM lineitem
                      WHERE l_partkey = p_partkey AND l_quantity > 49.0)
        ORDER BY p_partkey""")
    }),

    // TPC-H Q17 shape: correlated scalar AGGREGATE subquery against the
    // fact table itself (small-quantity revenue below 20% of the part's
    // average). Catalyst decorrelates this into an aggregate + join — the
    // reference rejects subqueries outright (src/sql/expr.rs:120-124).
    "q_tpch_q17" -> ((s, dir) => {
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
    }),

    // TPC-H Q20 shape: nested IN subqueries with a correlated aggregate
    // threshold (suppliers who shipped a 'red gear%' part at nearly twice
    // that part's average quantity).
    "q_tpch_q20" -> ((s, dir) => {
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
    }),

    // TPC-H Q21 shape: EXISTS + NOT EXISTS both correlated to the same
    // outer fact row (the only late supplier on a multi-supplier order;
    // "late" adapted to shipdate > orderdate + 60 days — this corpus has
    // no receipt/commit dates).
    "q_tpch_q21" -> ((s, dir) => {
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
    }),

    // TPC-H Q2 shape: correlated MIN subquery selects the cheapest source
    // per part (adapted: min l_extendedprice over lineitem stands in for
    // partsupp, which this corpus lacks). Equality on the stored double is
    // exact — no arithmetic on the compared value.
    "q_tpch_q2" -> ((s, dir) => {
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
    }),

    // TPC-H Q15 shape: top-revenue supplier via a reused CTE + scalar MAX
    // subquery over it (the "create view revenue" pattern). Revenue
    // accumulates in DECIMAL on both engines, so the MAX equality is exact.
    "q_tpch_q15" -> ((s, dir) => {
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
    }),

    // TPC-H Q22 shape: anti-join (customers with no orders) gated by an
    // uncorrelated aggregate threshold (above-average positive balance);
    // "no orders" adapted to "no orders since 1999" (dormant customers) —
    // every customer in this corpus has at least one order.
    // The avg compare is cross-multiplied (bal * n > total) so both
    // engines evaluate it with exact DECIMAL totals — no decimal-division
    // rounding divergence. Country code adapted to the customer's nation
    // (this corpus has no phone column).
    "q_tpch_q22" -> ((s, dir) => {
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
    }),

    // TPC-H Q12 shape: fact-to-fact join + conditional aggregation
    // (priority-split line counts over a one-year ship window; grouped by
    // l_linestatus — this corpus has no l_shipmode). Counts are integers →
    // engine-exact.
    "q_tpch_q12" -> ((s, dir) => {
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
    }),

    // TPC-H Q14 shape: conditional-revenue ratio (promo share of one
    // month's revenue). Both legs accumulate in DECIMAL, cast to DOUBLE
    // once, and the final multiply/divide is plain double arithmetic —
    // bit-identical across engines.
    "q_tpch_q14" -> ((s, dir) => {
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
    }),

    // TPC-H Q18 shape: large-volume orders — IN over a grouped-HAVING
    // subquery on the fact table, then a 3-way join re-aggregated per
    // order and top-100 by price. Quantity sums accumulate in DECIMAL.
    "q_tpch_q18" -> ((s, dir) => {
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
    }),

    // TPC-H Q19 shape: disjunction of conjunctive brand/size/quantity
    // branches over the part join (no shipmode/container in this corpus)
    // — the OR-of-ANDs predicate Catalyst splits into the common join key
    // plus a residual filter.
    "q_tpch_q19" -> ((s, dir) => {
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
    }),

    // TPC-H Q4 shape: EXISTS-gated priority counts (late-shipping orders
    // in a quarter; "late" = shipped >30 days after order date — this
    // corpus has no commit/receipt dates)
    "q_tpch_q4" -> ((s, dir) => {
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
    }),

    // TPC-H Q7 shape: bidirectional nation-pair trade volume by year —
    // a 6-table join with a symmetric OR pair predicate and a year
    // extraction in the grouping
    "q_tpch_q7" -> ((s, dir) => {
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
    }),

    // TPC-H Q8 shape: market-share ratio — one nation's share of an
    // 8-table join's volume per year, via the Q14 two-sum decimal-exact
    // ratio pattern
    "q_tpch_q8" -> ((s, dir) => {
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
    }),

    // TPC-H Q6 shape: pure scan-side conditional revenue — every
    // predicate lands in PushedFilters, no join at all (the query whose
    // whole cost is how little of the fact table the scan reads)
    "q_tpch_q6" -> ((s, dir) => {
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
    }),

    // TPC-H Q13 shape: distribution of per-customer order counts — LEFT
    // join keeping zero-order customers, aggregate, then aggregate the
    // aggregate (the count-of-counts histogram)
    "q_tpch_q13" -> ((s, dir) => {
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
    }),

    // TPC-H Q10 shape: top returned-revenue customers in a quarter
    // (join + group + decimal-exact revenue + deterministic top-20)
    "q_tpch_q10" -> ((s, dir) => {
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
    }),

    // TPC-H Q3 shape (shipping priority): 3-way join, date filters on
    // BOTH fact sides, revenue top-10. (q_mjoin_topk is the undated
    // precursor; this is the full Q3 with the date predicates. The corpus
    // has no o_shippriority column.) Revenue accumulates in DECIMAL.
    "q_tpch_q3" -> ((s, dir) => {
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
    }),

    // TPC-H Q5 shape (local supplier volume): 6-way join where the
    // supplier's nation must equal the customer's (the join cycle that
    // makes Q5 interesting), region filter, one-year-style date window.
    "q_tpch_q5" -> ((s, dir) => {
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
    }),

    // TPC-H Q9 shape (product-type profit): the widest fact join in the
    // suite (part+supplier+lineitem+orders+nation), part-name LIKE
    // filter, profit grouped by supplier nation and order year.
    // p_retailprice stands in for ps_supplycost (no partsupp table in
    // this corpus); all arithmetic accumulates in DECIMAL so the profit
    // sums are engine-exact.
    "q_tpch_q9" -> ((s, dir) => {
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
    }),

    // TPC-H Q11 shape (important stock): grouped value per part gated by
    // a HAVING against a scalar subquery over the SAME grouped set.
    // lineitem value per part stands in for partsupp stock value; the
    // threshold is scale-free (3x the average part value) and compared
    // cross-multiplied in exact integer cents — no decimal division, so
    // the cut is bit-identical on both engines.
    "q_tpch_q11" -> ((s, dir) => {
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
    }),

    // TPC-H Q16 shape (parts/supplier relationship): NOT-IN subquery
    // excluding a supplier set + count-DISTINCT aggregation over part
    // attribute groups + IN value list. Suppliers with negative balance
    // stand in for the '%Complaints%' comment filter (no s_comment
    // column); lineitem supplies the part-supplier pairs.
    "q_tpch_q16" -> ((s, dir) => {
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
    }),

    // as-of join (custom operator — union + running-last formulation,
    // graft.operators.Relational.asofJoin; oracle is DuckDB native ASOF)
    "q_asof" -> ((s, dir) => {
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
    }),

    // forward as-of join: nearest right row AT-or-AFTER the left time
    // (e.g. "next purchase after each click")
    "q_asof_forward" -> ((s, dir) => {
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
    }),

    // skew-salted join (the explicit skew tool beyond AQE): result is
    // salt-independent, so the oracle is the plain join — verifying the
    // rewrite preserves join semantics
    // CDC upsert (MERGE): apply the order stream as changes to a customer
    // snapshot — latest order per customer updates the balance (partial
    // update: name/segment survive), orders for customers missing from the
    // snapshot insert, and a latest order in status 'P' deletes. The
    // latest-per-key step is a map-side-combinable max(struct) aggregate,
    // not a window (operators/Relational.upsert).
    "q_upsert" -> ((s, dir) => {
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
    }),

    // streaming CDC apply, end-to-end: the SAME merge as q_upsert but
    // maintained by Streams.cdcApply over three bounded, version-ordered
    // change feeds (micro-batch epochs) chained onto one versioned
    // snapshot store seeded with the customer base. The final snapshot
    // equals the one-shot batch upsert — latest-wins converges when
    // batches arrive in version order — so the query shares q_upsert's
    // oracle. Exercises the streaming-maintained table: file-source
    // streams, foreachBatch exactly-once versioning, epoch chaining.
    "q_cdc_stream" -> ((s, dir) => {
      val root = scratch("cdc_stream")
      val hfs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      hfs.delete(new org.apache.hadoop.fs.Path(root), true)
      val base = t(s, dir, "customer")
        .filter(col("c_custkey") % 7 =!= 0)
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
      base.write.mode("overwrite").parquet(s"$root/snap/v=0")
      val changes = t(s, dir, "orders").select(
        col("o_custkey").as("c_custkey"),
        col("o_totalprice").as("c_acctbal"),
        col("o_orderdate"), col("o_orderkey"),
        (col("o_orderstatus") === "P").as("_is_del"))
      val cuts = Seq(
        col("o_orderdate") < lit("1998-01-01").cast(TimestampType),
        col("o_orderdate") >= lit("1998-01-01").cast(TimestampType) &&
          col("o_orderdate") < lit("2000-01-01").cast(TimestampType),
        col("o_orderdate") >= lit("2000-01-01").cast(TimestampType))
      // the q_stream_join idiom: per-batch merge work runs at a
      // feed-sized shuffle width on a session clone (at 32 the three
      // micro-batch merges are mostly per-task overhead); raise at volume
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "4")
      cuts.zipWithIndex.foreach { case (cut, i) =>
        val feed = s"$root/feed$i"
        changes.filter(cut).write.mode("overwrite").parquet(feed)
        val q = graft.streaming.Streams.cdcApply(
          ss.readStream.schema(changes.schema).parquet(feed),
          s"$root/snap", s"$root/ckpt$i", "c_custkey",
          versionCols = Seq("o_orderdate", "o_orderkey"), partial = true,
          deleteCol = Some("_is_del"), epoch = (i + 1) * 1000000L)
        q.processAllAvailable()
        q.stop()
      }
      val newest = hfs.listStatus(new org.apache.hadoop.fs.Path(s"$root/snap"))
        .map(_.getPath.getName).filter(_.startsWith("v="))
        .map(_.drop(2).toLong).max
      s.read.parquet(s"$root/snap/v=$newest").orderBy("c_custkey")
    }),

    "q_salted_join" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"))
      // bucket count sizes to the measured skew: enough replicas to spread
      // the hottest key, no more — each bucket replicates the right side
      Relational.saltedJoin(l, o, ("l_orderkey", "o_orderkey"), saltBuckets = 4)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("o_orderstatus")
    }),

    // join strategy hints (plan control surface; result is hint-independent)
    "q_join_hint" -> ((s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        SELECT /*+ MERGE(orders) */ o_orderstatus, count(*) AS n
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    }),

    // union by column NAME (schema-aligned union, not positional)
    "q_union_by_name" -> ((s, dir) => {
      val a = t(s, dir, "customer")
        .select(col("c_custkey").as("k"), col("c_name").as("nm"))
      val b = t(s, dir, "supplier")
        .select(col("s_name").as("nm"), col("s_suppkey").as("k"))
      a.unionByName(b).orderBy("k", "nm")
    }),

    // nested struct build + field access
    "q_struct_nested" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          struct(col("o_custkey").as("c"), col("o_totalprice").as("p")).as("st"))
        .select(col("o_orderkey"), col("st.c").as("cust"),
          (col("st.p") * 2).as("double_price"))
        .orderBy("o_orderkey")),

    // window: lag/lead/dense_rank/ntile/first_value (value-offset family)
    "q_window_lag" -> ((s, dir) => {
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
    }),

    // window: RANGE frame (value-based window extent, not row counts).
    // Partitioned by the high-cardinality customer key — a low-cardinality
    // partition key (e.g. the 3-value order status) would serialize the
    // whole table into 3 window tasks at any scale.
    "q_window_range" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderkey"))
        .rangeBetween(-1000L, Window.currentRow)
      t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
        sum(dec2(col("o_totalprice"))).over(w).cast(DoubleType).as("near_total"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // CUBE with grouping() disambiguation of subtotal rows (single-phase;
    // PreAggGroupingSets pre-aggregates below the Expand — see q_rollup)
    "q_cube" -> ((s, dir) =>
      t(s, dir, "lineitem").cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"),
          (grouping(col("l_returnflag")).cast(LongType) * 2 +
            grouping(col("l_linestatus")).cast(LongType)).as("gid"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // explicit GROUPING SETS (the general form ROLLUP/CUBE special-case),
    // via the SQL front door; same injected-rule pre-aggregation
    "q_grouping_sets" -> ((s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        SELECT l_returnflag, l_linestatus, count(*) AS n,
          CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")
    }),

    // UNPIVOT/melt: wide metric columns → long (metric, value) rows
    "q_unpivot" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_quantity"), col("l_discount"), col("l_tax"))
        .unpivot(Array.empty[Column],
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "metric", "value")
        .groupBy(col("metric"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy("metric")),

    // explode/lateral view: tokenize text → per-word counts (top-20)
    "q_explode" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(split(lower(col("text")), "\\s+")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word").asc)
        .limit(20)),

    // statistical aggregates (variance/stddev/covariance/correlation) via
    // exact DECIMAL moment sums + a shared closed-form in DOUBLE — order-
    // independent and bit-identical across engines, unlike the built-in
    // streaming-variance aggregates whose partial-merge order varies
    "q_stats_agg" -> ((s, dir) => {
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
    }),

    // range (interval-bucket) join: broadcast nested-loop on [lo,hi) bins
    "q_range_join" -> ((s, dir) => {
      val sp = s; import sp.implicits._
      val buckets = Seq((0.0, 10.0, "q1_small"), (10.0, 25.0, "q2_mid"),
        (25.0, 40.0, "q3_large"), (40.0, 1000000000.0, "q4_huge"))
        .toDF("lo", "hi", "label")
      Relational.rangeJoin(t(s, dir, "lineitem"), buckets,
          col("l_quantity"), col("lo"), col("hi"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("label")
    }),

    // binned range join: same result as q_range_join (shared oracle) but
    // planned as an equi-join on bin id + residual filter — the
    // hash-partitionable shape that survives when BOTH sides are large
    // and a broadcast nested loop cannot run
    "q_range_join_binned" -> ((s, dir) => {
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
    }),

    // fuzzy (edit-distance) self-join — entity-resolution shape
    "q_fuzzy_join" -> ((s, dir) => {
      val n1 = t(s, dir, "nation").select(col("n_name").as("name_a"))
      val n2 = t(s, dir, "nation").select(col("n_name").as("name_b"))
      n1.crossJoin(broadcast(n2))
        .filter(col("name_a") < col("name_b"))
        .select(col("name_a"), col("name_b"),
          levenshtein(col("name_a"), col("name_b")).cast(LongType).as("edit_dist"))
        .filter(col("edit_dist") <= 2)
        .orderBy("name_a", "name_b")
    }),

    // the SCALABLE fuzzy join: FastSS deletion-variant candidate generation
    // + exact levenshtein verify, proven lossless against the full O(n²)
    // DuckDB twin (cap set far above any gate-scale bucket so it can't bind)
    "q_fuzzy_join_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 24).as("k"))
      graft.dedup.Dedup.editDistancePairs(docs, "k", "doc_id",
          maxDist = 2, maxBucketSize = 100000)
        .orderBy("id_a", "id_b")
    }),

    // TF-IDF top term per document (log-free: cross-engine deterministic)
    // corpus vocabulary building (tokenizer training's first pass): token →
    // total frequency + document frequency, top 100. Explode+groupBy is
    // map-side combined before its shuffle; the top-k plans as
    // TakeOrderedAndProject (per-partition k, no global sort) — the shape
    // that holds at a 100-TB corpus with a billion-term vocabulary.
    "q_vocab" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("df"))
        .orderBy(col("n").desc, col("token"))
        .limit(100)),

    // same curation result via the k-bounded TopK AGGREGATOR instead of a
    // rank window: partial+final aggregation ships ≤ partitions×k rows per
    // group — the shape that survives when one domain holds most of the
    // corpus and a window would sort it all in one task. Shares q_curate's
    // oracle (identical result; PlanSpec asserts the plan has no Window).
    "q_curate_agg" -> ((s, dir) => {
      val sp = s; import sp.implicits._
      val scored = t(s, dir, "documents")
        .select(col("source"),
          native.text_stats(col("text")).getField("quality").as("quality"),
          col("doc_id"))
        .as[(String, Double, Long)]
        .map { case (src, q, id) => (src, graft.functions.Scored(q, id)) }
      scored.groupByKey(_._1).mapValues(_._2)
        .agg(new graft.functions.TopK(5).toColumn.name("top"))
        .flatMap { case (src, tops) =>
          tops.zipWithIndex.map { case (t, i) =>
            (t.neighbor_id, src, t.cosine, (i + 1).toLong) } }
        .toDF("doc_id", "source", "quality", "rank")
        .orderBy("source", "rank")
    }),

    // subword tokenization: greedy longest-match segmentation of the 100
    // most frequent corpus words against a fixed piece vocabulary (the
    // APPLY side of the q_vocab build side); the DuckDB twin replays the
    // greedy loop as a recursive CTE with a LATERAL longest-match probe
    "q_tokenize" -> ((s, dir) => {
      val words = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word")).limit(100)
      words.select(col("word"),
          native.tokenize_greedy(col("word"), typedlit(subwordVocab))
            .as("pieces"),
          col("n"))
        .orderBy(col("n").desc, col("word"))
    }),

    // temperature-2 domain flattening: each source keeps sqrt(n_min/n_i)
    // of its rows — heads downsampled toward the geometric mean, smallest
    // domain kept whole; engine-exact because sqrt/division are correctly
    // rounded and the threshold is floor-pinned (see Profile)
    "q_mix_temperature" -> ((s, dir) =>
      graft.functions.Profile.temperatureFlatten(
          t(s, dir, "documents"), "source", "doc_id")
        .groupBy("source").agg(count(lit(1)).as("n_kept"))
        .orderBy("source")),

    // overlapping character chunking (RAG / context-window prep): 200-char
    // chunks, 40-char overlap — narrow generator, no shuffle; every chunk
    // hash-checked including the short tail chunks
    "q_chunk" -> ((s, dir) =>
      graft.functions.Text.chunk(t(s, dir, "documents"), size = 200,
          overlap = 40)
        .orderBy("doc_id", "chunk_idx")),

    // end-to-end pipeline composition: exact dedup -> quality filter ->
    // deterministic train/eval split -> per-(source,split) report. Each
    // stage is individually oracle-proven elsewhere; this query proves
    // they COMPOSE (the library's real usage shape) with one twin
    // replaying all four stages.
    "q_pipeline" -> ((s, dir) => {
      val kept = Dedup.exactKept(t(s, dir, "documents"))
      val scored = kept.withColumn("st", native.text_stats(col("text")))
      val good = scored.filter(col("st.quality") >= 0.5)
      val split = graft.functions.Profile.hashSplit(good, "doc_id")
      split.groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("st.n_tokens")).as("total_tokens"))
        .orderBy("source", "split")
    }),

    // corpus curation: per-source top-5 documents by quality score — the
    // "keep the best K per domain" selection step after quality scoring.
    // Partitioned window (never global); scores are engine-bit-identical
    // so the ranking hash-checks.
    "q_curate" -> ((s, dir) => {
      val scored = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          native.text_stats(col("text")).getField("quality").as("quality"))
      val w = Window.partitionBy("source")
        .orderBy(col("quality").desc, col("doc_id"))
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .orderBy("source", "rank")
    }),

    // Z-order (Morton) codes — the native ZOrder2 kernel behind
    // Sinks.writeZOrdered's multi-dimensional clustering; inputs masked to
    // 16 bits so the DuckDB twin's shift arithmetic stays in safe range
    "q_zorder" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          native.zorder2(pmod(col("o_custkey"), lit(65536L)),
            pmod(col("o_orderkey"), lit(65536L))).as("zcode"))
        .orderBy("zcode", "o_orderkey")
        .limit(200)),

    // CCNet-style LM fluency: bigram counts trained on the English slice,
    // every doc scored by mean reference-bigram frequency (log-free →
    // engine-exact; see Text.bigramFluency)
    "q_lm_fluency" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.functions.Text.bigramFluency(docs,
          docs.filter(col("lang") === "en"))
        .orderBy("doc_id")
    }),

    "q_tfidf" -> ((s, dir) => {
      val scored = graft.functions.Text.tfidf(t(s, dir, "documents"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("tfidf").desc, col("term").asc)
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("term").as("top_term"), col("tfidf"))
        .orderBy("doc_id")
    }),

    // supervised term selection: chi-squared presence/class association,
    // top-3 class-indicative terms per source — the feature-selection
    // counterpart to unsupervised tfidf/PMI; all counts exact longs, one
    // fixed-order double expression both engines replay bit-for-bit
    "q_chi2_terms" -> ((s, dir) =>
      graft.functions.Text.chiSquaredTerms(t(s, dir, "documents"),
          classCol = "source", topk = 3, minDf = 5)
        .orderBy("source", "rn")),

    // per-source token-distribution Shannon entropy — the diversity
    // metric mixture design reads next to raw counts; order-pinned fold
    // so the float sum replays bit-for-bit (see Text.tokenEntropy)
    "q_entropy" -> ((s, dir) =>
      graft.functions.Text.tokenEntropy(t(s, dir, "documents"))
        .orderBy("source")),

    // correlated LATERAL subquery (top-n per group via join-side subquery)
    "q_lateral" -> ((s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        SELECT n_name, t.c_name, t.c_acctbal
        FROM nation, LATERAL (
          SELECT c_name, c_acctbal FROM customer
          WHERE c_nationkey = n_nationkey
          ORDER BY c_acctbal DESC, c_name LIMIT 2) t
        ORDER BY n_name, c_acctbal DESC, c_name""")
    }),

    // date-spine pattern: generated calendar left-joined to daily facts
    "q_date_spine" -> ((s, dir) => {
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
    }),

    // expression-level IN / NOT IN subqueries
    "q_subquery_in" -> ((s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        SELECT c_custkey, c_name FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders
                            WHERE o_totalprice > 400000.0)
          AND c_custkey NOT IN (SELECT o_custkey FROM orders
                                WHERE o_orderpriority LIKE '%5%')
        ORDER BY c_custkey""")
    }),

    // string manipulation: pad/reverse/replace/position/split_part/repeat
    "q_string_pad" -> ((s, dir) =>
      t(s, dir, "nation").select(col("n_nationkey"),
        lpad(col("n_name"), 12, "*").as("padded_l"),
        rpad(col("n_name"), 12, "*").as("padded_r"),
        reverse(col("n_name")).as("rev_name"),
        expr("replace(n_name, 'NATION', 'NAT')").as("shortened"),
        locate("_", col("n_name")).cast(IntegerType).as("sep_pos"),
        element_at(split(col("n_name"), "_"), 2).as("num_part"),
        repeat(col("n_name"), 2).as("doubled"))
        .orderBy("n_nationkey")),

    // boolean/conditional aggregates: count_if, bool_and/or, min_by/max_by
    "q_agg_bool" -> ((s, dir) =>
      t(s, dir, "orders").groupBy(col("o_orderstatus")).agg(
        expr("count_if(o_totalprice > 200000.0)").as("n_big"),
        expr("bool_and(o_totalprice > 0.0)").as("all_positive"),
        expr("bool_or(o_orderpriority LIKE '%1%')").as("any_urgent"),
        expr("max_by(o_custkey, o_orderkey)").as("latest_cust"),
        expr("min_by(o_custkey, o_orderkey)").as("first_cust"))
        .orderBy("o_orderstatus")),

    // sliding event-time windows (overlapping buckets; batch form of the
    // streaming operator — every event lands in length/slide windows)
    "q_sliding_window" -> ((s, dir) =>
      Streams.slidingCounts(t(s, dir, "events"), "1 hour", "15 minutes")
        .orderBy("w_start", "event_type")),

    // ================= training-data pipeline =================

    // column profiling (count/nulls/distinct/min/max per column)
    "q_profile" -> ((s, dir) =>
      graft.functions.Profile.profile(t(s, dir, "orders"),
          Seq("o_orderkey", "o_orderstatus", "o_totalprice"))
        .orderBy("column")),

    // deterministic hash-based train/eval split (reproducible sampling)
    "q_split" -> ((s, dir) =>
      graft.functions.Profile.hashSplit(t(s, dir, "orders"), "o_orderkey", 80)
        .groupBy("split").agg(count(lit(1)).as("n"))
        .orderBy("split")),

    // deterministic stratified sampling: per-stratum sampled counts stay
    // proportional (rare strata don't vanish); reproducible across engines
    "q_sample_stratified" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val sampled = graft.functions.Profile
        .stratifiedSample(o, "o_orderkey", pct = 20)
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_sampled"))
      val full = o.groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_total"))
      full.join(sampled, Seq("o_orderpriority"), "left")
        .select(col("o_orderpriority"), col("n_total"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
        .orderBy("o_orderpriority")
    }),


    // text analysis: SQL-expressible per-doc stats (one-pass native
    // TextStats struct; fields are regex-compatible with the oracle)
    "q_text_stats" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), native.text_stats(col("text")).as("st"))
        .select(col("doc_id"),
          col("st.n_chars").as("n_chars"),
          col("st.n_tokens").as("n_tokens"),
          col("st.n_subwords").as("n_subwords"),
          col("st.mean_token_len").as("mean_token_len"),
          col("st.punct_ratio").as("punct_ratio"))
        .orderBy("doc_id")),

    // intra-document boilerplate removal: drop duplicate LINES, keep first
    // occurrence in order (repeated headers/footers/menus in web text) —
    // a one-pass native kernel. The corpus is single-line, so the query
    // derives lines in-query (word-per-line via translate), the same
    // inject-the-structure pattern q_normalize uses for accents.
    "q_dedup_lines" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          native.dedup_lines(translate(col("text"), " ", "\n")).as("cleaned"))
        .orderBy("doc_id")),

    // exact substring dedup (Lee et al. 2022): word 8-grams occurring in
    // >=2 distinct docs are repeated spans; every covered token position
    // is masked. Catches shared *passages* that doc- and line-level dedup
    // miss. See dedup.Dedup.maskRepeatedSpans for the scale shape.
    "q_dedup_spans" -> ((s, dir) =>
      Dedup.maskRepeatedSpans(t(s, dir, "documents"), k = 8, minDocs = 2)
        .orderBy("doc_id")),

    // winnowing fingerprints (MOSS, SIGMOD 2003): window-min of the
    // positional gram hashes keeps ~2/(w+1) of grams yet guarantees any
    // shared run of >= w+k-1 tokens yields an identical selected
    // fingerprint in both documents. The oracle replays the gram FNV in
    // HUGEINT, maps to signed BIGINT (array_min compares signed longs),
    // and window-mins with the same truncated-window rule.
    "q_winnow" -> ((s, dir) =>
      Dedup.winnowPairs(t(s, dir, "documents"), k = 4, window = 8,
          minShared = 3)
        .orderBy("id_a", "id_b")),

    // the SAME winnowing result through the §2.6 SQL front door: the
    // injected span_gram_hashes in SQL text, window-min as a doc-
    // partitioned window function (0-based gpos → full windows are
    // gpos <= gc-8), the hot-bucket cap, and the pair count — a second
    // independent implementation converging on q_winnow's oracle
    "q_sql_winnow" -> ((s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        WITH g AS (
          SELECT doc_id, pe.gpos AS gpos, pe.h AS h
          FROM documents
          LATERAL VIEW posexplode(span_gram_hashes(text, 4)) pe AS gpos, h),
        m AS (SELECT doc_id, count(*) AS gc FROM g GROUP BY doc_id),
        win AS (
          SELECT g.doc_id, g.gpos, m.gc,
            min(g.h) OVER (PARTITION BY g.doc_id ORDER BY g.gpos
              ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp
          FROM g JOIN m ON g.doc_id = m.doc_id),
        sel AS (SELECT DISTINCT doc_id, fp FROM win
          WHERE gpos <= greatest(gc - 8, 0)),
        hot AS (SELECT fp FROM sel GROUP BY fp HAVING count(*) > 2000),
        capped AS (SELECT doc_id, fp FROM sel
          WHERE fp NOT IN (SELECT fp FROM hot)),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
          FROM capped a JOIN capped b
            ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT id_a, id_b, shared FROM pairs WHERE shared >= 3
        ORDER BY id_a, id_b""")
    }),

    // cross-document boilerplate removal (C4-style): tokens occurring in
    // >= 100 distinct docs are corpus boilerplate, removed from every doc
    // (order preserved). The boilerplate set is tiny by construction →
    // broadcast anti-join; see functions.Text.removeBoilerplate.
    "q_boilerplate" -> ((s, dir) =>
      graft.functions.Text.removeBoilerplate(
          t(s, dir, "documents"), minDocs = 100, sep = " ")
        .orderBy("doc_id")),

    // text normalization: accent-strip + casefold (dedup preprocessing);
    // accents injected via translate so the normalization has real work
    "q_normalize" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          native.strip_accents(
            lower(translate(substring(col("text"), 1, 30), "ae", "\u00e4\u00e9")))
            .as("normalized"))
        .orderBy("doc_id")),

    // text analysis: heuristic scores + fingerprint; the oracle
    // recomputes the full heuristic (and the rolling FNV fingerprint in
    // HUGEINT) in DuckDB
    "q_text_quality" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), native.text_stats(col("text")).as("st"))
        .select(col("doc_id"),
          col("st.quality").as("quality"),
          col("st.lang_pred").as("lang_pred"),
          col("st.stopword_ratio").as("stopword_ratio"),
          col("st.fingerprint").as("fingerprint"))
        .orderBy("doc_id")),

    // PII/noise redaction (emails → URLs → digit runs, in that order);
    // patterns injected per-row so the scrubbing has real work
    "q_redact" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.Text.redact(concat(
            substring(col("text"), 1, 40),
            lit(" contact bob"), col("doc_id").cast(StringType),
            lit("@mail-example.com see https://ex.org/d/"),
            col("doc_id").cast(StringType),
            lit(" ref 4049100"), col("doc_id").cast(StringType)))
            .as("redacted"))
        .orderBy("doc_id")),

    // corpus quality filter funnel: per-source doc counts before/after the
    // standard token-count / punctuation / word-repetition thresholds
    "q_quality_filter" -> ((s, dir) => {
      val st = native.text_stats(col("text"))
      val keep = st.getField("n_tokens").between(QfMinTokens, QfMaxTokens) &&
        st.getField("punct_ratio") < QfMaxPunct &&
        graft.functions.Text.wordRepetitionRatio(col("text")) < QfMaxRep
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(keep, 1L).otherwise(0L)).as("n_kept"))
        .orderBy("source")
    }),

    // fill-in-the-middle (PSM order) on a deterministic half of the
    // corpus: hash-chosen token cut points, prefix/suffix/middle
    // re-emitted with sentinels — the code-model pretraining transform;
    // the twin replays cuts and reassembly with list slices
    "q_fim" -> ((s, dir) =>
      graft.functions.Text.fimTransform(t(s, dir, "documents"))
        .orderBy("doc_id")),

    // the SAME FIM transform through the §2.6 SQL front door: hash coin
    // + cut points + slice reassembly re-stated in Spark SQL, converging
    // on q_fim's oracle
    "q_sql_fim" -> ((s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql(s"""
        WITH tk AS (SELECT doc_id, text, split(text, ' ') AS toks
            FROM documents),
        c AS (
          SELECT doc_id, text, toks, size(toks) AS L,
            (${hash32SparkSql("doc_id * 17 + 1")})
              % (size(toks) + 1) AS h1,
            (${hash32SparkSql("doc_id * 17 + 2")})
              % (size(toks) + 1) AS h2,
            (${hash32SparkSql("doc_id * 17")}) % 2 = 0 AS applied
          FROM tk),
        s AS (
          SELECT doc_id, text, toks, L, applied,
            CAST(least(h1, h2) AS INT) AS c1,
            CAST(greatest(h1, h2) AS INT) AS c2
          FROM c)
        SELECT doc_id, applied AS fim_applied,
          CASE WHEN applied THEN
            concat('<PRE> ', array_join(slice(toks, 1, c1), ' '),
              ' <SUF> ', array_join(slice(toks, c2 + 1, L - c2), ' '),
              ' <MID> ', array_join(slice(toks, c1 + 1, c2 - c1), ' '))
          ELSE text END AS transformed
        FROM s ORDER BY doc_id""")
    }),

    // T5-style span corruption: deterministic hash-selected token masks,
    // contiguous runs collapsed to numbered sentinels, target = the
    // removed spans — the denoising-objective data prep. The twin
    // replays the Knuth hash, the run islands (pos − row_number) and
    // the ordered string reassembly, so input AND target hash-match
    "q_span_corrupt" -> ((s, dir) =>
      graft.functions.Text.spanCorrupt(
          t(s, dir, "documents"), maskEveryK = 5)
        .orderBy("doc_id")),

    // the SAME span corruption through the §2.6 SQL front door: Knuth
    // mask, run islands, dense-rank sentinels and the ordered
    // array_sort/array_join reassembly re-stated in Spark SQL — a second
    // independent implementation converging on q_span_corrupt's oracle
    "q_sql_span_corrupt" -> ((s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql(s"""
        WITH tok AS (
          SELECT doc_id, t.pos, t.tok
          FROM documents
          LATERAL VIEW posexplode(split(text, ' ')) t AS pos, tok),
        f AS (
          SELECT doc_id, pos, tok,
            (${hash32SparkSql("doc_id * 131 + pos")}) % 5 = 0 AS masked
          FROM tok),
        m AS (
          SELECT doc_id, pos, tok,
            pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
              AS island
          FROM f WHERE masked),
        si AS (
          SELECT doc_id, pos, tok, island,
            dense_rank() OVER (PARTITION BY doc_id ORDER BY island) - 1
              AS sid
          FROM m),
        st AS (
          SELECT doc_id, min(pos) AS pos, 1 AS prio,
            concat('<extra_id_', sid, '>') AS part
          FROM si GROUP BY doc_id, island, sid),
        up AS (SELECT doc_id, pos, 2 AS prio, tok AS part
          FROM f WHERE NOT masked),
        mp AS (SELECT doc_id, pos, 2 AS prio, tok AS part FROM si),
        mt AS (
          SELECT doc_id,
            array_join(transform(
              array_sort(collect_list(struct(pos, prio, part))),
              x -> x.part), ' ') AS masked_text
          FROM (SELECT * FROM up UNION ALL SELECT * FROM st)
          GROUP BY doc_id),
        tt AS (
          SELECT doc_id,
            array_join(transform(
              array_sort(collect_list(struct(pos, prio, part))),
              x -> x.part), ' ') AS target_text
          FROM (SELECT * FROM mp UNION ALL SELECT * FROM st)
          GROUP BY doc_id),
        cn AS (
          SELECT doc_id,
            sum(CASE WHEN masked THEN 1L ELSE 0L END) AS n_masked
          FROM f GROUP BY doc_id),
        ns AS (
          SELECT doc_id, count(DISTINCT island) AS n_spans
          FROM m GROUP BY doc_id)
        SELECT d.doc_id,
          coalesce(mt.masked_text, '') AS masked_text,
          coalesce(tt.target_text, '') AS target_text,
          coalesce(cn.n_masked, 0L) AS n_masked,
          coalesce(ns.n_spans, 0L) AS n_spans
        FROM documents d
          LEFT JOIN mt ON mt.doc_id = d.doc_id
          LEFT JOIN tt ON tt.doc_id = d.doc_id
          LEFT JOIN cn ON cn.doc_id = d.doc_id
          LEFT JOIN ns ON ns.doc_id = d.doc_id
        ORDER BY d.doc_id""")
    }),

    // C4-style banned-term screen: per doc the banned-token count, a
    // flagged bit and the first banned token in document order — pure
    // codegen'd higher-order functions, parquet-scan speed (the "drop
    // pages containing a blocklist word" pass every web corpus runs)
    "q_blocklist" -> ((s, dir) =>
      graft.functions.Text.blocklistStats(
          t(s, dir, "documents"), blocklistTerms)
        .orderBy("doc_id")),

    // curation decision LOG: every doc gets the FIRST failing rule as
    // a reason code (too_short → too_long → high_punct → repetitive →
    // blocklisted → keep), aggregated per source — the auditable
    // drop-accounting table a governed corpus ships with. One narrow
    // pass over the corpus (all codegen'd kernels) + one hash agg
    "q_curation_report" -> ((s, dir) => {
      val st = native.text_stats(col("text"))
      val rep = graft.functions.Text.wordRepetitionRatio(col("text"))
      val blocked = arrays_overlap(split(col("text"), " "),
        lit(blocklistTerms.toArray))
      val reason = when(st.getField("n_tokens") < QfMinTokens, "too_short")
        .when(st.getField("n_tokens") > QfMaxTokens, "too_long")
        .when(st.getField("punct_ratio") >= QfMaxPunct, "high_punct")
        .when(rep >= QfMaxRep, "repetitive")
        .when(blocked, "blocklisted")
        .otherwise("keep")
      t(s, dir, "documents")
        .select(col("source"), reason.as("reason"))
        .groupBy("source", "reason").agg(count(lit(1)).as("n_docs"))
        .orderBy("source", "reason")
    }),

    // exact dedup (hash-groupBy)
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents")).orderBy("keep_id")),

    // MinHash+LSH candidates re-verified with EXACT byte-shingle Jaccard;
    // the oracle is the FULL O(n²) exact-Jaccard twin, so a hash match
    // proves banding recall loses no true pair at gate scale (the same
    // lossless-candidates proof q_dedup_ngram gives the prefix filter)
    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashVerifiedPairs(t(s, dir, "documents"), threshold = 0.7,
          maxBucketSize = 100000)
        .orderBy("id_a", "id_b")),

    // the closed-loop cap gate: chooseBucketCap evaluates the capped
    // pair ceiling for every ladder rung in one slim aggregate and
    // minhashVerifiedPairsAuto runs the verified pipeline at the largest
    // rung under the 10M-pair budget. At gate scale the chosen rung
    // (4000 > the 273-doc max bucket) caps nothing, so the SAME full
    // O(n²) exact-Jaccard twin proves the auto-gated path end to end;
    // DedupSpec pins the tight-budget rung selection the twin can't see.
    // The budget survives the 10x ContractStress corpus (~7M capped
    // pairs); at 100k it was observed REFUSING that corpus (smallest
    // rung 16 already admits 904,335 pairs) — the guard behaving as
    // designed on a hot corpus
    "q_dedup_autocap" -> ((s, dir) =>
      Dedup.minhashVerifiedPairsAuto(t(s, dir, "documents"),
          threshold = 0.7, pairBudget = 10000000L)
        .orderBy("id_a", "id_b")),

    // SimHash pairs at maxHamming=3: with 4 pigeonhole chunks the candidate
    // generation is provably COMPLETE for hamming <= 3, so the emitted set
    // is exactly {pairs with hamming(simhash_a, simhash_b) <= 3} — and the
    // oracle recomputes the FNV simhash bit-exactly in DuckDB (HUGEINT
    // arithmetic) and compares ALL pairs
    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), maxHamming = 3,
          maxBucketSize = 100000)
        .orderBy("id_a", "id_b")),

    // benchmark decontamination: eval docs (src1) whose word-3-gram
    // containment in any training doc reaches 0.5 (asymmetric — Jaccard
    // misses a prompt quoted inside a large doc); df cap unbound so the
    // full O(n²) cross twin is exact
    "q_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.ngramContainmentPairs(docs.filter(col("source") =!= "src1"),
          docs.filter(col("source") === "src1"),
          n = 3, threshold = 0.5, maxDocFreq = 1000000)
        .orderBy("eval_id", "train_id")
    }),

    // deterministic weighted per-domain sampling (domain reweighting:
    // src0 upsampled to 60%, src1 to 30%, everything else 10%)
    "q_mix_weighted" -> ((s, dir) =>
      graft.functions.Profile.weightedSample(
          t(s, dir, "documents"), "source", "doc_id",
          Map("src0" -> 60, "src1" -> 30), defaultPct = 10)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), min("doc_id").as("min_id"))
        .orderBy("source")),

    // deterministic per-stratum quota sample (data mixing: exact
    // per-domain counts, hash-ordered so cross-engine reproducible)
    "q_mix_quota" -> ((s, dir) =>
      graft.functions.Profile.quotaSample(
          t(s, dir, "documents"), "source", "doc_id", quota = 10)
        .select("doc_id", "source")
        .orderBy("doc_id")),

    // deterministic training-shard assignment (the writer's hash, per-row
    // verifiable cross-engine; writeTrainingShards itself is SinksSpec'd)
    "q_shards" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.Profile.shardOf(col("doc_id"), 8).as("shard"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("shard")),

    // rendezvous (highest-random-weight) sharding: argmax_j of
    // hash32(hash32(key)+j) — resizing moves ONLY keys whose winning
    // shard vanished (~1/n of data), vs ~everything under the modulo
    // shard; the inner hash decorrelates keys so (k,j) never aliases
    // (k+1,j-31); the twin replays the argmax as a row_number over the
    // shard series
    "q_rendezvous" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.Profile.rendezvousShard(col("doc_id"), 8)
            .as("shard"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("shard")),

    // deterministic sequence packing: concat-and-chunk the corpus into
    // fixed token-budget training sequences in decorrelated hash order,
    // via a distributed prefix sum (no unpartitioned window anywhere) —
    // the step between a deduped corpus and the training dataloader
    "q_pack" -> ((s, dir) =>
      graft.functions.Profile.packSequences(
          t(s, dir, "documents").select(col("doc_id"),
            native.text_stats(col("text")).getField("n_tokens").as("n_tokens")),
          "doc_id", "n_tokens", budget = 2048L)
        .orderBy("doc_id")),

    // incremental exact dedup: the new batch (source src0) anti-joined
    // against the reference corpus (all other sources) on md5(text)
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.exactNewOnly(docs.filter(col("source") === "src0"),
          docs.filter(col("source") =!= "src0"))
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // incremental exact dedup via the broadcast BLOOM prefilter — the
    // disjoint-corpus scale shape (only might_contain survivors pay the
    // anti-join; no false negatives → result PROVABLY equals the plain
    // anti-join, so it shares q_dedup_incremental's ground-truth oracle)
    "q_dedup_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.exactNewOnlyBloom(docs.filter(col("source") === "src0"),
          docs.filter(col("source") =!= "src0"), expectedItems = 100000L)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // incremental NEAR-dup dedup: new batch kept only where no reference
    // doc reaches exact shingle-Jaccard >= 0.7 among banding candidates;
    // oracle is the full O(n²) cross-corpus exact twin (cap unbound)
    "q_dedup_incremental_near" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.minhashNewOnly(docs.filter(col("source") === "src0"),
          docs.filter(col("source") =!= "src0"),
          threshold = 0.7, maxBucketSize = 100000)
        .select("doc_id").orderBy("doc_id")
    }),

    // wide-radius simhash (hamming <= 8 exceeds the 4-chunk pigeonhole
    // guarantee, so recall is approximate — but DETERMINISTICALLY so: the
    // oracle reproduces the chunk-collision candidate rule and the exact
    // hamming filter, hash-checking the approximation itself)
    "q_dedup_simhash_wide" -> ((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), maxHamming = 8,
          maxBucketSize = 100000)
        .orderBy("id_a", "id_b")),

    // word n-gram Jaccard pairs. The oracle is the FULL O(n²) exact-Jaccard
    // self-join in DuckDB — hash-matching it proves the prefix+position-
    // filtered candidate generation (plus the df-cut) loses no pair at the
    // gate scale, not just that the survivors score correctly.
    "q_dedup_ngram" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), n = 3, threshold = 0.5,
          maxDocFreq = 200)
        .orderBy("id_a", "id_b")),

    // the END-TO-END near-dup pipeline a training job actually runs:
    // pair generation (n-gram Jaccard, proven lossless vs its full exact
    // twin) -> connected components (RDD pointer jumping) -> one canonical
    // survivor per component; the oracle rebuilds the exact pair graph and
    // labels components with a recursive CTE
    "q_dedup_survivors" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5,
        maxDocFreq = 200)
      Dedup.nearDupSurvivors(docs, pairs)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // best-member survivor policy: same clusters as q_dedup_survivors but
    // each cluster keeps its LONGEST member (ties -> lowest id) — the
    // "most complete copy" policy production dedup wants; one extra
    // component-keyed argmax aggregate
    "q_dedup_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5,
        maxDocFreq = 200)
      Dedup.nearDupSurvivorsBy(docs, pairs, col("n_chars"))
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // connected components over a pair graph (near-dup clustering: label
    // every doc with its component's minimum id). The query's edge set —
    // consecutive doc_ids sharing a language — forms chain components, so
    // the oracle is a gaps-and-islands SQL while the Spark operator is the
    // generic pointer-jumping label propagation over ANY graph.
    "q_connected_components" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val a = docs.select(col("doc_id").as("src"), col("lang").as("la"))
      val b = docs.select(col("doc_id").as("dst"), col("lang").as("lb"))
      val edges = a.join(b, col("dst") === col("src") + 1 && col("la") === col("lb"))
        .select("src", "dst")
      Dedup.connectedComponents(docs.select(col("doc_id").as("id")), edges)
        .select(col("id").as("doc_id"), col("component"))
        .orderBy("doc_id")
    }),

    // embedding cosine near-dup pairs via hyperplane LSH; the oracle
    // recomputes the buckets from the same plane literals + exact cosine
    "q_embed_neardup" -> ((s, dir) =>
      Dedup.embeddingNearDupPairs(t(s, dir, "embeddings"),
          threshold = 0.2, planes = 4)
        .orderBy("id_a", "id_b")),

    // SemDeDup (cluster-then-compare, Abbas et al. 2023): deterministic
    // k-means partitions the corpus, exact cosine only WITHIN a cluster —
    // O(Σ cᵢ²) not O(n²). Bit-deterministic training means the oracle
    // twins the entire path: seeds → Lloyd → assignment → pairs.
    "q_semdedup" -> ((s, dir) =>
      Dedup.semanticNearDupPairs(t(s, dir, "embeddings"), k = 8,
          threshold = 0.2)
        .orderBy("id_a", "id_b")),

    // recall@5 of the LSH index vs the exact answer — per query hit count
    // and recall; zero-hit queries stay visible. The twin recomputes both
    // the exact and the bucketed top-5 and intersects them.
    "q_ann_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = Ann.selfQueries(emb, 10)
      val exact = Ann.bruteForceTopK(emb, qs, k = 5)
      val approx = Ann.lshTopK(emb, qs, k = 5, planes = 6)
      Ann.recallAtK(exact, approx, qs, k = 5)
        .orderBy("query_id")
    }),

    // hard-negative mining (contrastive training): per query, the top-5
    // most-similar vectors with a DIFFERENT label — brute-force shape with
    // the label-mismatch predicate in the broadcast join
    "q_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_vec"), col("label").as("query_label"))
      Ann.hardNegatives(emb, queries, k = 5)
        .orderBy("query_id", "rank")
    }),

    // L2 normalization (unit vectors — cosine becomes plain dot product):
    // per-element division by the index-order norm, both correctly
    // rounded, so the full unit vectors hash-check bit-exactly. The
    // vector is serialized as exploded (vec_id, pos, unit) FLOAT rows so
    // the driver comparator can sort scalar columns (raw array cells
    // crash pandas sort_values) — every component is still compared
    // bit-for-bit, unlike a decimal-string rendering, whose sci-notation
    // thresholds differ between the two engines.
    // Johnson–Lindenstrauss ±1 projection 64→16 dims (Achlioptas 2003),
    // signs derandomized from the two-limb Knuth hash of (i*131+j) so no
    // projection matrix is stored or shuffled — a pure narrow map at any
    // corpus size (the IO/memory reducer upstream of ANN at 100 TB).
    // In-index-order fold per output dim; rows exploded for the driver
    // comparator like q_embed_normalize.
    "q_jl_project" -> ((s, dir) =>
      Ann.jlProject(t(s, dir, "embeddings").filter(col("vec_id") < 50))
        .select(col("vec_id"),
          posexplode(col("embedding_proj")).as(Seq("dim", "value")))
        .orderBy("vec_id", "dim")),

    "q_embed_normalize" -> ((s, dir) =>
      Ann.l2Normalize(t(s, dir, "embeddings"))
        .select(col("vec_id"),
          posexplode(col("embedding_unit")).as(Seq("pos", "unit")))
        .orderBy("vec_id", "pos")),

    // scalar int8 quantization (FAISS-SQ8 style, 4x memory/IO cut before
    // indexing): corpus-wide per-dim min/max → affine codes in [-127,127].
    // Integer codes are engine-exact, so the full path (range pass +
    // encode) hash-checks against the DuckDB twin. Codes serialized to a
    // CSV string for the same driver-comparator reason as above.
    "q_quantize" -> ((s, dir) =>
      Ann.int8Quantize(t(s, dir, "embeddings"))
        .select(col("vec_id"),
          array_join(col("codes").cast(ArrayType(StringType)), ",")
            .as("codes_csv"))
        .orderBy("vec_id")),

    // brute-force cosine top-k (exact ANN baseline; SQL oracle via DuckDB
    // list_dot_product — both sides accumulate in double in index order)
    "q_ann_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.bruteForceTopK(emb, Ann.selfQueries(emb, 10), k = 5)
        .orderBy("query_id", "rank")
    }),

    // attribute-FILTERED vector search (the vector-DB "metadata filter"
    // mode): the label predicate lands in the parquet scan BEFORE any
    // scoring, so the broadcast-queries × corpus pass only touches the
    // matching slice — pre-filtering, not post-filter-and-refill
    "q_ann_filtered" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.bruteForceTopK(emb.filter(col("label") === 1),
          Ann.selfQueries(emb, 5), k = 5)
        .orderBy("query_id", "rank")
    }),

    // LSH-bucketed approximate top-k (scale path); the oracle recomputes
    // the buckets from the same plane literals, so the approximate result
    // is hash-checked end-to-end
    "q_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.lshTopK(emb, Ann.selfQueries(emb, 10), k = 5, planes = 6)
        .orderBy("query_id", "rank")
    }),

    // IVF approximate top-k (k-means lists; second ANN scale path) —
    // training is bit-deterministic (ordered fold), so the oracle twins
    // the entire algorithm including the Lloyd iteration
    "q_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = graft.similarity.Ivf.train(emb, k = 8, iters = 1)
      graft.similarity.Ivf.ivfTopK(emb, Ann.selfQueries(emb, 10), cents,
          k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    }),

    // IVF probe against the centroid-partitioned store: same algorithm as
    // q_ann_ivf (parameterized full twin), but the corpus is written hive-
    // partitioned by centroid_id and the probe reads ONLY the probed
    // inverted-list directories. 2 queries × nprobe 2 probe AT MOST 4 of
    // the 8 lists, so the PartitionFilters evidence is a strict subset —
    // PLANS.md must show `pruned read: m of n` with m < n (PlanAudit
    // fails the audit otherwise).
    "q_ann_ivf_pruned" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = graft.similarity.Ivf.train(emb, k = 8, iters = 1)
      val store = scratch("ivf_store")
      graft.similarity.Ivf.writeAssignedStore(emb, cents, store)
      graft.similarity.Ivf.ivfTopKFromStore(store, Ann.selfQueries(emb, 2),
          cents, k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    }),

    // incremental ANN maintenance: train IVF on the RESIDENT 80% only,
    // build its partitioned store, then APPEND the remaining 20% batch
    // assigned to the FROZEN centroids — no retrain, no list rewrite —
    // and probe the merged store. Assignment being a deterministic
    // per-row function of (vector, centroids), the merged store equals
    // a full rebuild of the union under the same centroids (IvfSpec
    // asserts store-level parity; the twin replays train-on-base +
    // assign-union exactly).
    "q_ann_incremental" -> ((s, dir) => {
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
    }),

    // FULLY-stored index serving: centroids AND inverted lists both live
    // as parquet (train nightly, probe from disk — nothing of the index
    // held in memory between jobs). Centroid vectors are FLOAT columns,
    // which parquet round-trips bit-exactly, and assignment/probe are
    // deterministic functions of (vector, centroids) — so the stored-
    // index probe equals q_ann_ivf's in-memory result and SHARES its
    // full k-means-replay twin (the q_kn_score_stored oracle trade)
    "q_ann_stored_index" -> ((s, dir) => {
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
    }),

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
    "q_ann_reindex" -> ((s, dir) => {
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
    }),

    // version RETENTION (the maintenance half the lifecycle was missing,
    // VERDICT r10 #2): publish v=1 on the resident 80%, v=2 on the full
    // corpus, then vacuum with keepN=1 — the in-line requires prove
    // exactly v=1 was deleted, only v=2's directory survives, and the
    // manifest still resolves it. The probe of the surviving version is
    // a full-corpus train+probe, so the twin is q_ann_ivf's VERBATIM —
    // vacuum must be invisible to serving
    "q_ann_vacuum" -> ((s, dir) => {
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
    }),

    // COMPACTION AS A VERSION PUBLISH (VERDICT r10 #1's swap shape):
    // the resident 80% is v=1's base layer, the 20% batch lands as a
    // streamed-style ingest layer, then compactVersion folds both into
    // v=2 — SAME centroids, single base layer — committed through the
    // identical one-object manifest protocol as a retrain. The requires
    // prove the version advanced and the file count shrank; the probe
    // of the compacted version carries the same rows under the same
    // centroids, so the twin is q_ann_incremental's VERBATIM
    "q_ann_compact_version" -> ((s, dir) => {
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
    }),

    // the SELF-DRIVING lifecycle (VERDICT r10 #3): drift repair wired
    // INTO the always-on ingest stream, audited every batch. v=1 trains
    // on the whole current corpus; the stream then feeds two audited
    // micro-batches. Phase 1 is an IN-DISTRIBUTION wave (5 exact copies
    // of every vec_id%10=0 vector under fresh ids): each wave query's
    // true top-5 are its own sibling copies + source, which share its
    // exact assignment cell, so the audit measures recall 1.0
    // STRUCTURALLY (at any SF) and must NOT advance the version. Phase
    // 2 is a SHIFTED wave (vec_id%10=5 re-encoded by reversal — a new
    // encoder's vectors landing in the same store): its queries' true
    // neighbors scatter across cells the frozen quantizer never carved
    // (measured recall@5 0.30-0.48 across sf0.001/0.01/0.1 vs the 0.8
    // floor), so the in-stream reindexIfDrifted retrains on the store's
    // full content and publishes v=2 mid-stream. The requires pin the
    // version trail (held at v1 after phase 1, advanced EXACTLY once
    // after phase 2); the hash-checked result is the post-swap probe.
    // The recall-RECOVERY semantics of the swap are StreamingSpec's
    // designed-cluster twin test (recovery needs real cluster
    // structure, which these isotropic synthetic vectors lack). The
    // twin replays train+probe over the full union corpus — possible
    // because the whole chain is content-deterministic
    "q_stream_reindex" -> ((s, dir) => withTempFeed("graft_sreidx") { feed =>
      val emb = t(s, dir, "embeddings")
      val root = scratch("ivf_stream_reindex")
      org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(root), true)
      val v1 = graft.similarity.Ivf.writeVersionedIndex(
        emb.select(col("vec_id"), col("embedding")), k = 8, root)
      val w1 = Seq(100000L, 110000L, 120000L, 130000L, 140000L).map(o =>
          emb.filter(pmod(col("vec_id"), lit(10)) === 0)
            .select((col("vec_id") + o).as("vec_id"), col("embedding")))
        .reduce(_ unionByName _)
      // the shifted wave: a PER-ID sign mask (exact in float, so the
      // twin replays it bit-for-bit) — unlike reversal, it decorrelates
      // the wave from the trained quantizer AND from itself, so the
      // audit scatters on ANY corpus geometry (reversed near-dup
      // FAMILIES co-locate and never trip the gate on the densified
      // 10x ContractStress corpus; masked vectors have no family
      // structure to hide in)
      val w2 = emb.filter(pmod(col("vec_id"), lit(10)) === 5)
        .select((col("vec_id") + 200000L).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            x * when(pmod(graft.functions.Profile.hash32(
                col("vec_id") * 64 + i), lit(2L)) === 0, lit(1.0f))
              .otherwise(lit(-1.0f))).as("embedding"))
      val in = s"$feed/in"; new java.io.File(in).mkdirs()
      def phase(p: DataFrame): Unit =
        p.coalesce(1).write.mode("append").parquet(in)
      phase(w1) // lands before start -> one deterministic first batch
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "4")
      val src = ss.readStream.schema(ss.read.parquet(in).schema).parquet(in)
      val q = graft.streaming.Streams.indexAppendAudited(src, root,
        s"$feed/ckpt", auditEvery = 1, floor = 0.8, k = 5, nprobe = 2,
        kCents = 8)
      try {
        q.processAllAvailable()
        require(graft.similarity.Ivf.indexVersion(s, root) == v1,
          "the in-distribution wave must not trigger a retrain")
        phase(w2)
        q.processAllAvailable()
      } finally q.stop()
      val v2 = graft.similarity.Ivf.indexVersion(s, root)
      require(v2 == v1 + 1,
        s"the shifted wave must advance the version exactly once: $v1 -> $v2")
      graft.similarity.Ivf.ivfTopKFromVersioned(s, root,
          Ann.selfQueries(emb, 10), k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    }),

    // the WHOLE always-on lifecycle in ONE job: ingest + per-batch
    // audit + drift retrain + THRESHOLDED compaction + vacuum, all on
    // their cadences inside indexAppendAudited. Three audited batches:
    // two in-distribution 5-copy duplicate waves (audits structurally
    // 1.0, version held; after the second, the compaction cadence
    // fires and folds the three store layers into v=2 — fewer files,
    // single base, the _folded_through marker carrying batch 1), then
    // the sign-mask re-encoded wave whose audit trips the retrain to
    // v=3 — after which the in-stream vacuum (keepN=2) retires v=1.
    // The requires pin the full trail: version 1 -> 2(compact) ->
    // 3(retrain), file count shrank at the fold, exactly {v=2, v=3}
    // directories survive, and the manifest serves v=3. The twin is
    // the full train+probe replay over the union corpus — every stage
    // is content-deterministic
    "q_stream_lifecycle" -> ((s, dir) => withTempFeed("graft_slife") { feed =>
      val emb = t(s, dir, "embeddings")
      val root = scratch("ivf_stream_lifecycle")
      val fs = org.apache.hadoop.fs.FileSystem
        .get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val v1 = graft.similarity.Ivf.writeVersionedIndex(
        emb.select(col("vec_id"), col("embedding")), k = 8, root)
      def dupWave(residue: Int, offs: Seq[Long]): DataFrame = offs.map(o =>
          emb.filter(pmod(col("vec_id"), lit(30)) === residue)
            .select((col("vec_id") + o).as("vec_id"), col("embedding")))
        .reduce(_ unionByName _)
      val w1a = dupWave(0, Seq(100000L, 110000L, 120000L, 130000L, 140000L))
      val w1b = dupWave(10, Seq(150000L, 160000L, 170000L, 180000L, 190000L))
      val w2 = emb.filter(pmod(col("vec_id"), lit(10)) === 5)
        .select((col("vec_id") + 200000L).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            x * when(pmod(graft.functions.Profile.hash32(
                col("vec_id") * 64 + i), lit(2L)) === 0, lit(1.0f))
              .otherwise(lit(-1.0f))).as("embedding"))
      val in = s"$feed/in"; new java.io.File(in).mkdirs()
      def phase(p: DataFrame): Unit =
        p.coalesce(1).write.mode("append").parquet(in)
      phase(w1a) // lands before start -> one deterministic first batch
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "4")
      val src = ss.readStream.schema(ss.read.parquet(in).schema).parquet(in)
      val q = graft.streaming.Streams.indexAppendAudited(src, root,
        s"$feed/ckpt", auditEvery = 1, floor = 0.8, k = 5, nprobe = 2,
        kCents = 8, compactEvery = 2, keepVersions = 2)
      try {
        q.processAllAvailable()
        require(graft.similarity.Ivf.indexVersion(s, root) == v1,
          "the first in-distribution wave must hold the version")
        val filesV1 = fs.globStatus(new org.apache.hadoop.fs.Path(
          s"$root/v=$v1/store/ingest=*/centroid_id=*/part-*")).length
        phase(w1b)
        q.processAllAvailable()
        val vC = graft.similarity.Ivf.indexVersion(s, root)
        require(vC == v1 + 1,
          s"the compaction cadence must publish v=${v1 + 1}: got $vC")
        require(graft.similarity.Ivf.ingestLayerCount(s, root, vC) == 1,
          "the compacted version must be single-base")
        val filesVC = fs.globStatus(new org.apache.hadoop.fs.Path(
          s"$root/v=$vC/store/ingest=*/centroid_id=*/part-*")).length
        require(filesVC < filesV1,
          s"compaction must shrink the store: $filesV1 -> $filesVC files")
        phase(w2)
        q.processAllAvailable()
      } finally q.stop()
      val v3 = graft.similarity.Ivf.indexVersion(s, root)
      require(v3 == v1 + 2,
        s"the re-encoded wave must retrain exactly once: got v=$v3")
      val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(root))
        .map(_.getPath.getName).filter(_.startsWith("v=")).sorted.toSeq
      require(dirs == Seq(s"v=${v1 + 1}", s"v=${v1 + 2}"),
        s"the in-stream vacuum must keep exactly the newest 2: $dirs")
      graft.similarity.Ivf.ivfTopKFromVersioned(s, root,
          Ann.selfQueries(emb, 10), k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    }),

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
    "q_ann_drift" -> ((s, dir) => {
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
    }),

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
    "q_ann_drift_sampled" -> ((s, dir) => {
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
    }),

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
    "q_ann_pq_versioned" -> ((s, dir) => {
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
    }),

    // TWO-WRITER PUBLISH RACE (VERDICT r11 #1), driven in-query: writer
    // B stages a complete v=2 build against committed v=1; writer A
    // publishes v=2 first. B's promote REFUSES with the conditional
    // commit (never last-write-wins), its staging is cleaned, A's
    // publish survives untouched, and B's retry re-resolves the
    // manifest and lands v=3 — trained on the full corpus, so the
    // newest-version probe shares q_ann_ivf's full twin verbatim.
    "q_ann_commit_race" -> ((s, dir) => {
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
    }),

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
    "q_ann_workload" -> ((s, dir) => {
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
    }),

    // multimodal: typed metadata over binary payloads (oracle on meta)
    "q_media_meta" -> ((s, dir) =>
      Multimodal.mediaFromDocuments(t(s, dir, "documents"))
        .groupBy(col("mime"))
        .agg(count(lit(1)).as("n_media"), sum(col("n_bytes")).as("total_bytes"),
          min(col("n_bytes")).as("min_bytes"), max(col("n_bytes")).as("max_bytes"))
        .orderBy("mime")),

    // multimodal: REAL codec round trip — deterministic pixels encoded to
    // genuine PNG bytes (javax.imageio), decoded BACK from those bytes with
    // ImageIO.read in mapPartitions, per-channel sums from the decoded
    // pixels. The oracle replays the closed-form pixel generator (no codec),
    // so a hash match proves the PNG encode→decode path is lossless.
    "q_media_decode" -> ((s, dir) =>
      Multimodal.decodeImageFeatures(
          Multimodal.syntheticImages(t(s, dir, "documents")))
        .toDF()
        .select(col("media_id"), col("width"), col("height"),
          col("sum_r"), col("sum_g"), col("sum_b"))
        .orderBy("media_id")),

    // multimodal: pixel features from the real decode — mean channel
    // intensity (one IEEE division of exact ints) + 8-bin integer-Rec.601
    // luminance histogram, all derived from ImageIO-decoded pixels
    "q_media_features" -> ((s, dir) =>
      Multimodal.decodeImageFeatures(
          Multimodal.syntheticImages(t(s, dir, "documents")))
        .toDF()
        .select(col("media_id"),
          // divide by the DECODED raster size, not a copy of the 12x8
          // generator constant — dims changing at one site can't silently
          // skew the means (value identical: width*height = 96 today)
          (col("sum_r").cast(DoubleType) /
            (col("width") * col("height")).cast(DoubleType)).as("mean_r"),
          (col("sum_g").cast(DoubleType) /
            (col("width") * col("height")).cast(DoubleType)).as("mean_g"),
          (col("sum_b").cast(DoubleType) /
            (col("width") * col("height")).cast(DoubleType)).as("mean_b"),
          col("lum_b0"), col("lum_b1"), col("lum_b2"), col("lum_b3"),
          col("lum_b4"), col("lum_b5"), col("lum_b6"), col("lum_b7"))
        .orderBy("media_id")),

    // multimodal: REAL resize — ImageIO-decode the PNG, then an integer
    // 2x2 box-filter downsample (12x8 → 6x4; out pixel = truncating mean
    // of its block) with exact channel sums of the RESIZED raster. The
    // twin replays the pixel generator plus the same block mean, so a
    // hash match proves the decode+resize arithmetic end-to-end.
    "q_media_resize" -> ((s, dir) =>
      Multimodal.resizeImageFeatures(
          Multimodal.syntheticImages(t(s, dir, "documents")), factor = 2)
        .toDF()
        .orderBy("media_id")),

    // multimodal: REAL WAV round trip — deterministic 16-bit PCM encoded
    // to genuine RIFF/WAVE with javax.sound.sampled, decoded back by the
    // JDK's WaveFileReader, features from the DECODED samples (exact
    // integer aggregates + one IEEE-exact rms). The oracle recomputes from
    // the closed-form sample formula, so a hash match proves the audio
    // codec path is lossless and actually exercised.
    "q_media_audio" -> ((s, dir) =>
      Multimodal.decodeAudioFeatures(
          Multimodal.syntheticAudio(t(s, dir, "documents")))
        .toDF()
        .orderBy("media_id")),

    // voice-activity detection on REAL decoded WAV: 32-sample frames,
    // a frame is voiced when its summed |sample| clears mean·frameSize
    // (decided in longs), segments/longest-run per clip — the
    // speech-corpus triage pass before any ASR spend. The twin replays
    // frame energies from the closed-form PCM generator codec-free and
    // runs gaps-and-islands for the segmentation, so a hash match
    // certifies decode AND run-length logic
    "q_media_vad" -> ((s, dir) =>
      graft.multimodal.Vad.energySegments(
          Multimodal.syntheticAudio(t(s, dir, "documents")))
        .toDF()
        .orderBy("media_id")),

    // multimodal: frame sampling plumbing (oracle: generate_series twin)
    "q_media_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(
          Multimodal.mediaFromDocuments(t(s, dir, "documents")))
        .orderBy("media_id", "frame_idx")),

    // shot-boundary detection on REAL decoded frames: per-doc 6-frame
    // PNG sequences (scene seed switches at frame 3), ImageIO decode,
    // frame-to-frame sum-of-absolute-differences, integer cut decision
    // sad > 40·n_elems — the twin replays the closed-form pixel formula
    // codec-free, so a hash match certifies the encode→decode round trip
    "q_media_shots" -> ((s, dir) =>
      Multimodal.shotBoundaries(
          Multimodal.syntheticFrames(t(s, dir, "documents")))
        .orderBy("media_id", "frame_idx")),

    // Gopher-style repetition quality filters (Rae et al. 2021): duplicate
    // -word fraction, most-frequent-bigram coverage, duplicate-5-gram
    // fraction — the signals that catch looping generations and scraped
    // boilerplate. Narrow per-row array computations, no shuffle.
    "q_repetition" -> ((s, dir) =>
      graft.functions.Text.repetitionStats(t(s, dir, "documents"))
        .orderBy("doc_id")),

    // URL canonicalization + host extraction (crawl-dedup preprocessing):
    // mixed-case scheme/host, a default port, utm_*/gclid tracking params
    // and a fragment are injected per row so every normalization rule has
    // real work to do
    "q_url_canon" -> ((s, dir) => {
      val url = concat(
        lit("HTTPS://WWW.Example"), (col("doc_id") % 7).cast(StringType),
        lit(".COM:443/Docs/"), col("doc_id").cast(StringType),
        lit("?utm_source=feed&utm_campaign=c"), col("doc_id").cast(StringType),
        lit("&ref="), col("doc_id").cast(StringType),
        lit("&gclid=g1#Sec"), col("doc_id").cast(StringType))
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.Text.canonicalizeUrl(url).as("url_canon"),
          graft.functions.Text.urlHost(url).as("host"))
        .orderBy("doc_id")
    }),

    // window-function completeness: percent_rank / cume_dist / nth_value
    // over the deterministic per-customer ordering (q_window_lag covers
    // lag/lead/ntile/first_value; both windows partitioned, never global)
    "q_window_stats" -> ((s, dir) => {
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
    }),

    // product quantization (Jégou et al. 2011): m=4 subspace codebooks of
    // k=8 via the bit-deterministic Lloyd fold, one-byte codes, ADC top-k
    // — the compressed ANN path (64x store shrink at 100 TB); the oracle
    // twins training, encoding AND the ADC ranking
    "q_ann_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cbs = graft.similarity.Pq.trainCodebooks(emb, m = 4, k = 8,
        dim = 64, iters = 1)
      val codes = graft.similarity.Pq.encode(emb, cbs)
      graft.similarity.Pq.adcTopK(codes, Ann.selfQueries(emb, 10), cbs, k = 5)
        .orderBy("query_id", "rank")
    }),

    // recall@5 of the compressed (PQ/ADC) search vs exact full-precision
    // cosine — the quality gauge that tells you whether m=4 codebooks are
    // enough before you shrink the 100 TB store 64x
    "q_pq_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cbs = graft.similarity.Pq.trainCodebooks(emb, m = 4, k = 8,
        dim = 64, iters = 1)
      val codes = graft.similarity.Pq.encode(emb, cbs)
      val qs = Ann.selfQueries(emb, 10)
      val approx = graft.similarity.Pq.adcTopK(codes, qs, cbs, k = 5)
      Ann.recallAtK(Ann.bruteForceTopK(emb, qs, k = 5), approx, qs, k = 5)
        .orderBy("query_id")
    }),

    // IVFADC (Jégou et al. 2011 §IV): IVF probe pruning composed with PQ
    // ADC ranking — the billion-vector search shape: nprobe/k of the
    // lists scanned, m bytes per candidate instead of d floats; both
    // training stages bit-deterministic, so the oracle twins the ENTIRE
    // path (k-means, codebooks, probe selection, ADC ranking)
    "q_ann_ivfpq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = graft.similarity.Ivf.train(emb, k = 8, iters = 1)
      val cbs = graft.similarity.Pq.trainCodebooks(emb, m = 4, k = 8,
        dim = 64, iters = 1)
      graft.similarity.Pq.ivfAdcTopK(emb, Ann.selfQueries(emb, 10), cents,
          cbs, k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    }),

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
    "q_ann_stored_pq" -> ((s, dir) => {
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
    }),

    // per-site quota (crawl curation): canonical host as the grouping key,
    // keep the 20 longest docs per host — rank inside a partitioned
    // window, never a global sort; at 100 TB hosts shard naturally and
    // the per-host cap bounds every partition's output
    "q_host_quota" -> ((s, dir) => {
      val url = concat(lit("https://Host"), (col("doc_id") % 5).cast(StringType),
        lit(".Example.COM/page/"), col("doc_id").cast(StringType))
      val docs = t(s, dir, "documents").select(col("doc_id"),
        graft.functions.Text.urlHost(url).as("host"),
        length(col("text")).cast(LongType).as("n_chars"))
      val w = Window.partitionBy("host")
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      docs.select(col("doc_id"), col("host"), col("n_chars"),
          row_number().over(w).cast(LongType).as("host_rank"))
        .filter(col("host_rank") <= 20)
        .orderBy("host", "host_rank")
    }),

    // BM25 keyword retrieval (Robertson-Zaragoza k1=1.2 b=0.75): query =
    // the 2 globally most frequent terms, integer tf/df/dl aggregates,
    // narrow scoring, sort+limit top-20 (TakeOrderedAndProject)
    "q_bm25" -> ((s, dir) =>
      graft.functions.Text.bm25(t(s, dir, "documents"))
        .orderBy(col("bm25").desc, col("doc_id").asc)),

    // PageRank over a deterministic synthetic link graph (2 out-edges per
    // doc via affine maps mod N): 3 power iterations with ordered-fold
    // contribution sums — the crawl-authority weighting signal; the twin
    // replays every iteration with the identical double expression tree
    "q_pagerank" -> ((s, dir) => {
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
    }),

    // per-node triangle counts on a deterministic synthetic link graph
    // (ring + skip + affine edges — the ring/skip pairs guarantee a
    // triangle per consecutive node triple, the affine edges add
    // irregular extras) — degree-ordered node-iterator (oriented wedge
    // join, no cartesian, per-key fan-out bounded by O(sqrt(m)) even on
    // hub nodes)
    "q_triangles" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val n = docs.count()
      val id = col("doc_id")
      val edges = ringSkipAffineEdges(docs, n, id)
      graft.graph.Triangles.perNode(edges).orderBy("node_id")
    }),

    // local clustering coefficient on the q_triangles graph: triangle
    // counts normalized per node, 2·tri/(deg·(deg−1)) — exact longs, one
    // quotient; flags clique-like link farms vs hub-and-spoke pages
    "q_clustering_coef" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val n = docs.count()
      val id = col("doc_id")
      val edges = ringSkipAffineEdges(docs, n, id)
      graft.graph.Triangles.clusteringCoefficient(edges).orderBy("node_id")
    }),

    // incremental view maintenance of an inner equi-join: old view plus
    // the IVM delta (ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB) must equal the full
    // recompute — the oracle IS the recompute, so the delta algebra is
    // what's being checked. Aggregated per priority to compare compactly.
    "q_incremental_join" -> ((s, dir) => {
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
    }),

    // A/B lift with deterministic hash-parity arms: per-user conversion
    // (any purchase), exact counts per arm, lift decided as one quotient
    // of exact cross products — the experiment-analysis primitive
    "q_ab_lift" -> ((s, dir) => {
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
    }),

    // sorted-neighborhood blocking (the third classic dedup blocking
    // paradigm next to LSH bands and PPJoin prefixes): slide a 4-wide
    // window down the prefix-sorted order inside 2-char blocks, then
    // exact-verify candidates with the fingerprint Jaccard
    "q_sorted_neighborhood" -> ((s, dir) =>
      Dedup.sortedNeighborhoodPairs(t(s, dir, "documents"), n = 3,
          windowSize = 4, blockChars = 2, keyChars = 12, threshold = 0.5)
        .orderBy("id_a", "id_b")),

    // per-doc keyword extraction: log-free TF-IDF ordering (tf desc,
    // corpus df asc, term asc) — integer ranks, engine-independent
    "q_keywords" -> ((s, dir) =>
      graft.functions.Text.topTerms(t(s, dir, "documents"), k = 3)
        .orderBy("doc_id", "rnk")),

    // per-source dedup impact: share of each source's docs that are
    // exact copies of earlier corpus content (keep-first policy) — which
    // feeds pump duplicates; exact counts, one quotient
    "q_dedup_report" -> ((s, dir) =>
      Dedup.dedupReport(t(s, dir, "documents"), stratumCol = "source")
        .orderBy("source")),

    // per-label mean embeddings (class prototypes) via the deterministic
    // secondary-sort ordered fold (Ivf.train's discipline) — exploded to
    // (label, pos, mval) FLOAT rows for the comparator, each component
    // bit-exact against the twin's identical ordered fold
    "q_mean_pool" -> ((s, dir) =>
      graft.similarity.Pooling.meanByGroup(t(s, dir, "embeddings"),
          "label", "embedding", "vec_id")
        .select(col("group_id").cast(LongType).as("label"),
          posexplode(col("mean_vec")).as(Seq("pos", "mval")))
        .select(col("label"), (col("pos") + 1).cast(LongType).as("pos"),
          col("mval"))
        .orderBy("label", "pos")),

    // prototype (nearest-class-mean) classification accuracy: assign
    // each embedding to the nearest label prototype and score per true
    // label — the 1-NN-to-centroid eval that tells whether labels are
    // linearly separable in embedding space. Exact counts, one quotient.
    "q_prototype_accuracy" -> ((s, dir) => {
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
    }),

    // per-label embedding drift between corpus halves: cosine between
    // the two halves' prototypes (deterministic folds → deterministic
    // cosine → the < gate is engine-independent)
    "q_embed_drift" -> ((s, dir) => {
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
    }),

    // consecutive-pattern matching (MATCH_RECOGNIZE shape): count
    // strictly adjacent view→click→purchase triples per user — two leads
    // over the user-partitioned sequence, every occurrence (the funnel
    // counts first occurrences; this counts all adjacent runs)
    "q_event_pattern" -> ((s, dir) => {
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
    }),

    // winsorization report: exact interpolated p05/p95 per group plus
    // integer counts of rows below/within/above — the clamp decision
    // without ever summing clamped floats (decimal-rounding-free)
    "q_winsorize" -> ((s, dir) => {
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
    }),

    // language-ID confusion matrix: heuristic prediction vs the labeled
    // lang, exact counts per (actual, predicted) cell — the eval that
    // says where the n-gram heuristic misroutes documents
    "q_lang_confusion" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"),
          native.text_stats(col("text")).getField("lang_pred")
            .as("lang_pred"))
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_pred")),

    // market-basket pair mining (frequent itemsets, size 2): parts
    // co-ordered in the same order, support >= 2. Pairs are enumerated
    // WITHOUT the self-join (the q_kcore edge-build shape): one map-side-
    // combined collect_set per order, every x<y pair expanded NARROWLY
    // inside the sorted array — the former distinct + self-join-on-ok
    // shuffled the lineitem projection three times to enumerate the same
    // pair multiset (guide §2.4: remove shuffles outright); the per-order
    // expansion is bounded by the order's own line count, never
    // corpus-wide, and the unchanged DuckDB oracle proves equivalence.
    "q_basket_pairs" -> ((s, dir) => {
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
    }),

    // seasonal-naive anomaly flags: hour-of-day baseline per event type
    // (exact integer sums), each hourly count compared against 2x its
    // seasonal mean via cross-multiplied longs — no float enters the gate
    "q_seasonal_residual" -> ((s, dir) => {
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
    }),

    // feature hashing (the Vowpal/Weinberger hashing trick): categorical
    // (name=value) features land in a fixed 32-bucket space via the
    // width-safe two-limb hash over an integer feature code, sign from
    // the hash's low bit — fixed-dimension model input with no vocabulary
    // pass. Exact ints end-to-end; twin replays the same hash.
    "q_feature_hash" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      // integer feature codes: lang and source enumerations are encoded
      // from their trailing digits/order so the hash input is a long on
      // both engines (no string hashing needed)
      val feats = d.select(col("doc_id"),
          (lit(1000L) + when(col("lang") === "en", 0L)
            .when(col("lang") === "de", 1L).when(col("lang") === "es", 2L)
            .when(col("lang") === "fr", 3L).otherwise(4L)).as("code"))
        .union(d.select(col("doc_id"),
          (lit(2000L) +
            regexp_extract(col("source"), "([0-9]+)$", 1).cast(LongType))
            .as("code")))
        .union(d.select(col("doc_id"),
          (lit(3000L) + expr("n_chars div 100L")).as("code")))
      val h = graft.functions.Profile.hash32(col("code"))
      feats.select(col("doc_id"), col("code"),
          pmod(h, lit(32L)).as("bucket"),
          (lit(1L) - lit(2L) * pmod(h, lit(2L))).as("sign"))
        .orderBy("doc_id", "code")
    }),

    // split-balance audit: does the hash split preserve each stratum's
    // share within +-5 percentage points of the global train rate? The
    // gate is cross-multiplied longs (|train_s*n - train*n_s|*100 <=
    // 5*n*n_s), so no engine's float rounding decides a boundary.
    "q_split_balance" -> ((s, dir) => {
      val split = graft.functions.Profile.hashSplit(
        t(s, dir, "documents"), "doc_id", trainPct = 80)
      val per = split.groupBy("lang")
        .agg(count(lit(1)).as("n_s"),
          sum(when(col("split") === "train", 1L).otherwise(0L))
            .as("train_s"))
      val tot = per.agg(sum(col("n_s")).as("n"),
        sum(col("train_s")).as("train"))
      per.crossJoin(broadcast(tot))
        .select(col("lang"), col("n_s"), col("train_s"),
          col("n").cast(LongType).as("n"),
          col("train").cast(LongType).as("train"),
          (abs(col("train_s") * col("n") - col("train") * col("n_s")) *
            lit(100L) <= lit(5L) * col("n") * col("n_s")).as("balanced"))
        .orderBy("lang")
    }),

    // token-budget data selection: best-scored documents until the
    // running token total crosses the budget — the distributed prefix
    // sum of q_pack walked in (n_chars desc, doc_id) quality order;
    // every row reports its running total and keep/drop verdict
    "q_budget_select" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("n_tokens", graft.functions.Text.tokenCount(col("text")))
      graft.functions.Profile.budgetSelect(d, "doc_id", "n_tokens",
          "n_chars", budget = 6000L)
        .orderBy("doc_id")
    }),

    // semantic benchmark decontamination: corpus vectors within cosine
    // 0.95 of ANY benchmark vector (vec_id < 10, broadcast) are flagged
    // — the embedding-space complement of the n-gram decontaminator
    "q_semantic_decontaminate" -> ((s, dir) => {
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
    }),

    // vocabulary coverage curve: share of all token OCCURRENCES covered
    // by the top-k most frequent types, for k in {10, 50, 100} — the
    // tokenizer-design metric behind vocab-size choices. Only ranks
    // ≤ max(k)=100 are ever consumed, so the type table is top-k'd with
    // orderBy+limit (plans as TakeOrderedAndProject: per-partition top-k,
    // merged — NO global sort, no single-partition window even when the
    // distinct-type table of a web corpus is billions of rows); ranks are
    // then assigned by a 100×100 broadcast self-join count instead of an
    // unpartitioned row_number window. Integer sums, one quotient per row.
    "q_vocab_coverage" -> ((s, dir) => {
      import s.implicits._
      val counts = t(s, dir, "documents")
        .select(explode(split(col("text"), "\\s+")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("tok").agg(count(lit(1)).as("n"))
      val top = counts.orderBy(col("n").desc, col("tok").asc).limit(100)
      // rnk = 1 + number of types strictly before (freq desc, tok asc) —
      // bounded 100×100 comparisons on the already-top-k'd table
      val ranked = top.as("a").join(broadcast(top.as("b")),
          col("b.n") > col("a.n") ||
            (col("b.n") === col("a.n") && col("b.tok") < col("a.tok")),
          "left")
        .groupBy(col("a.tok").as("tok"), col("a.n").as("n"))
        .agg((count(col("b.tok")) + 1).as("rnk"))
      val total = counts.agg(sum(col("n")).as("total"))
      val ks = Seq(10, 50, 100).toDF("k")
      ks.crossJoin(broadcast(total))
        .join(ranked, col("rnk") <= col("k"))
        .groupBy(col("k").cast(LongType).as("k"))
        .agg(max(col("total")).cast(LongType).as("total_tokens"),
          sum(col("n")).as("covered"))
        .select(col("k"), col("total_tokens"),
          col("covered").cast(LongType).as("covered"),
          (col("covered").cast(DoubleType) /
            col("total_tokens").cast(DoubleType)).as("coverage"))
        .orderBy("k")
    }),

    // packing-efficiency report at context lengths {512, 2048}: padding
    // waste of naive one-doc-per-sequence (pad each doc to ceil(n/L)·L)
    // vs concat-and-chunk packing (ceil(total/L) sequences) — the design
    // table that justifies sequence packing. Integer ceilings via `div`,
    // one double quotient per emitted fraction
    "q_packing_efficiency" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents")
        .select(graft.functions.Text.tokenCount(col("text")).as("n_tok"))
      val ls = Seq(512L, 2048L).toDF("context_len")
      ls.crossJoin(d)
        .groupBy("context_len")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).cast(LongType).as("total_tokens"),
          sum(expr("(n_tok + context_len - 1) div context_len"))
            .cast(LongType).as("naive_seqs"))
        .withColumn("packed_seqs",
          expr("(total_tokens + context_len - 1) div context_len")
            .cast(LongType))
        .select(col("context_len"), col("n_docs"), col("total_tokens"),
          col("naive_seqs"),
          ((col("naive_seqs") * col("context_len") - col("total_tokens"))
            .cast(DoubleType) /
            (col("naive_seqs") * col("context_len")).cast(DoubleType))
            .as("naive_pad_frac"),
          col("packed_seqs"),
          ((col("packed_seqs") * col("context_len") - col("total_tokens"))
            .cast(DoubleType) /
            (col("packed_seqs") * col("context_len")).cast(DoubleType))
            .as("packed_pad_frac"))
        .orderBy("context_len")
    }),

    // truncation-loss report at context lengths {64, 128, 256} tokens:
    // docs over the limit, tokens lost to truncation, loss share — the
    // packing/context-length design input. All integers, one quotient.
    "q_truncation_report" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents")
        .select(graft.functions.Text.tokenCount(col("text")).as("n_tok"))
      val ls = Seq(64, 128, 256).toDF("context_len")
      ls.crossJoin(d)
        .groupBy(col("context_len").cast(LongType).as("context_len"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_tok") > col("context_len"), 1L).otherwise(0L))
            .as("n_truncated"),
          sum(col("n_tok")).as("tokens_total"),
          sum(greatest(col("n_tok") - col("context_len"), lit(0L)))
            .as("tokens_lost"))
        .select(col("context_len"), col("n_docs"), col("n_truncated"),
          col("tokens_total").cast(LongType).as("tokens_total"),
          col("tokens_lost").cast(LongType).as("tokens_lost"),
          (col("tokens_lost").cast(DoubleType) /
            col("tokens_total").cast(DoubleType)).as("loss_share"))
        .orderBy("context_len")
    }),

    // Cohen's kappa between the language heuristic and the labels:
    // chance-corrected agreement from exact confusion counts — po and pe
    // numerators stay integers (pe = Σ row_marginal·col_marginal), the
    // kappa quotient is the only float
    "q_kappa" -> ((s, dir) => {
      val cm = t(s, dir, "documents")
        .select(col("lang"),
          native.text_stats(col("text")).getField("lang_pred").as("pred"))
        .groupBy("lang", "pred").agg(count(lit(1)).as("cnt"))
      val n = cm.agg(sum(col("cnt")).as("n"))
      val agree = cm.filter(col("lang") === col("pred"))
        .agg(coalesce(sum(col("cnt")), lit(0L)).as("agree"))
      val rowM = cm.groupBy("lang").agg(sum(col("cnt")).as("row_n"))
      val colM = cm.groupBy("pred").agg(sum(col("cnt")).as("col_n"))
      val pe = rowM.join(colM, col("lang") === col("pred"))
        .agg(coalesce(sum(col("row_n") * col("col_n")), lit(0L))
          .as("pe_num"))
      n.crossJoin(agree).crossJoin(pe)
        .select(col("n").cast(LongType).as("n"),
          col("agree").cast(LongType).as("agree"),
          col("pe_num").cast(LongType).as("pe_num"))
        .withColumn("kappa",
          (col("agree").cast(DoubleType) * col("n").cast(DoubleType) -
            col("pe_num").cast(DoubleType)) /
            (col("n").cast(DoubleType) * col("n").cast(DoubleType) -
              col("pe_num").cast(DoubleType)))
    }),

    // unbiased pass@k (Chen et al. 2021, eq. 1) per problem: n attempts,
    // c passes (value >= 100), estimator 1 - Π(n-c-i)/(n-i) UNROLLED
    // into a fixed k-term left-to-right double chain (no pow/lgamma —
    // libm varies); c=0 and n-c<k short-circuit exactly. One hash agg
    // over the attempt log, then a narrow expression — no second shuffle
    "q_pass_at_k" -> ((s, dir) =>
      graft.operators.Evaluation.passAtK(
          t(s, dir, "events"), "user_id",
          col("value") >= 100.0, k = 5)
        .select(col("user_id"), col("n"), col("c"),
          round(col("pass_at_k"), 6).as("pass_at_k"))
        .orderBy("user_id")),

    // the SAME pass@k through the §2.6 SQL front door (catalog
    // validation + Spark SQL parser): an independent re-statement of
    // the unrolled product converging on the shared oracle
    "q_sql_pass_at_k" -> ((s, dir) => {
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
    }),

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
    "q_sql_bradley_terry" -> ((s, dir) => {
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
    }),

    // DPO-style preference-PAIR construction: per prompt (user) the
    // highest- and lowest-scored responses become (chosen, rejected)
    // with a positive margin — the dataset artifact preference tuning
    // consumes. Deterministic ties via struct order (value, event_id);
    // one hash agg over the response log, no window, no second shuffle
    "q_pref_pairs" -> ((s, dir) => {
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
    }),

    // Bradley-Terry preference strengths (Hunter 2004 MM) — the scoring
    // backbone of preference/RLHF curation: per user the five event
    // types are ranked by exact spend cents, every non-tied pairwise
    // outcome feeds the win table, then 3 MM rounds with ordered-fold
    // denominator/normalization sums (the PageRank determinism
    // contract). The corpus is touched once; the loop runs on the
    // item-vocabulary-sized pair table
    "q_bradley_terry" -> ((s, dir) => {
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
    }),

    // link reciprocity: share of directed edges whose reverse edge also
    // exists (mutual-link density — the link-farm smell test); one
    // self-semi-join on the swapped pair, exact counts
    "q_reciprocity" -> ((s, dir) => {
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
    }),

    // re-aggregation cascade: daily totals computed FROM the hourly
    // pre-aggregates (sum of sums, sum of counts), never re-reading raw
    // events — the multi-granularity rollup a cube serves from; the
    // oracle computes daily directly from raw, so the cascade's
    // re-aggregability is what's hash-checked
    "q_reagg_cascade" -> ((s, dir) => {
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
    }),

    // last-touch attribution: each purchase credited to the most recent
    // preceding click's item (carried forward per user with an
    // ignore-nulls window) — purchases with no prior click stay
    // unattributed; exact counts per item
    "q_attribution" -> ((s, dir) => {
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
    }),

    // PII incidence report (the measure step before redaction): emails /
    // URLs / long digit runs injected on deterministic doc subsets, then
    // counted per source with the redactor's own patterns — exact counts,
    // one share quotient
    "q_pii_rate" -> ((s, dir) => {
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
    }),

    // two-proportion z-test on the A/B arms (pooled variance): exact
    // counts in, one fixed double expression tree out — the significance
    // gate |z| > 1.96 decided on a bit-deterministic statistic
    "q_ab_significance" -> ((s, dir) => {
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
    }),

    // inactivity report: each user's last event vs the corpus frontier;
    // inactive = idle 7+ days at the frontier (timestamp arithmetic
    // only), idle_days exact calendar-day diff
    "q_inactive_users" -> ((s, dir) => {
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
    }),

    // one-row dataset card: corpus size, token totals, language count,
    // exact-dup rate, mean length, short-doc share — the summary a data
    // release ships; every number an exact aggregate, quotients last
    "q_dataset_card" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("n_tok", graft.functions.Text.tokenCount(col("text")))
      val dups = d.select(col("doc_id"), md5(col("text")).as("h"))
        .groupBy("h").agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(col("c") - 1), lit(0L)).as("n_dups"))
      d.agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).cast(LongType).as("n_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources"),
          sum(col("n_chars")).cast(LongType).as("n_chars"),
          sum(when(col("n_tok") < 20, 1L).otherwise(0L)).as("n_short"))
        .crossJoin(dups)
        .select(col("n_docs"), col("n_tokens"), col("n_langs"),
          col("n_sources"), col("n_chars"), col("n_short"),
          col("n_dups").cast(LongType).as("n_dups"),
          (col("n_chars").cast(DoubleType) / col("n_docs").cast(DoubleType))
            .as("mean_chars"),
          (col("n_dups").cast(DoubleType) / col("n_docs").cast(DoubleType))
            .as("dup_rate"))
    }),

    // proximity search: 'table' within 5 positions of 'join' — the IR
    // operator between term lookup and exact phrase; posting-list join
    // keyed on doc, band residual
    "q_proximity_search" -> ((s, dir) =>
      graft.functions.Text.proximitySearch(t(s, dir, "documents"),
          "table", "join", window = 5)
        .orderBy("doc_id", "pos_a", "pos_b")),

    // TPC-H Q1 in full (the named 22/22): all 8 aggregate columns, the
    // price/discount/tax products kept in exact DECIMAL arithmetic until
    // the final double cast — order-independent, engine-exact
    "q_tpch_q1" -> ((s, dir) => {
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
    }),

    // unified per-node graph feature table (the crawl-curation feature
    // frame a downstream classifier consumes): directed in/out degree,
    // undirected degree, triangle count, clustering coefficient — one
    // row per document node, absent signals filled with exact zeros
    "q_node_features" -> ((s, dir) => {
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
    }),

    // degree distribution of the link graph: how many nodes have each
    // undirected degree — the power-law tail check next to skew_report;
    // two bounded aggregates
    "q_degree_dist" -> ((s, dir) => {
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
    }),

    // Gini concentration of per-source token contribution: how unequal
    // the corpus mix is (0 = uniform, →1 = one feed dominates). The
    // classic sorted-rank formula with integer numerators —
    // G = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx). Ranks come from the
    // distributed globalRowNumber (range-buckets + prefix offsets) — a
    // web corpus has millions of source domains, so an unpartitioned
    // rank window here would funnel the totals table through one task
    "q_gini" -> ((s, dir) => {
      val per = t(s, dir, "documents")
        .groupBy("source")
        .agg(sum(graft.functions.Text.tokenCount(col("text")))
          .as("tokens"))
      val ranked = graft.operators.Analytics.globalRowNumber(per,
        Seq(col("tokens").asc, col("source").asc), "i")
      ranked.agg(count(lit(1)).as("n_sources"),
          sum(col("tokens")).cast(LongType).as("total_tokens"),
          sum(col("i") * col("tokens")).cast(LongType).as("weighted"))
        .select(col("n_sources"), col("total_tokens"),
          ((lit(2.0) * col("weighted").cast(DoubleType) -
            (col("n_sources") + 1).cast(DoubleType) *
              col("total_tokens").cast(DoubleType)) /
            (col("n_sources").cast(DoubleType) *
              col("total_tokens").cast(DoubleType))).as("gini"))
    }),

    // curriculum ordering: rank docs within each source by length-proxy
    // quality (token count desc), then interleave sources by taking every
    // source's rank-1 doc first, then every rank-2, ... — the deterministic
    // round-robin curriculum a mixture-trained run consumes. The global
    // interleave position comes from globalRowNumber (range buckets +
    // prefix offsets), NOT an unpartitioned window — a real corpus has
    // billions of (rank, source) rows. All-integer ordering keys.
    "q_curriculum" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
        graft.functions.Text.tokenCount(col("text")).as("n_tok"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_tok").desc, col("doc_id").asc)
      val r = d.withColumn("rnk", row_number().over(w).cast(LongType))
      graft.operators.Analytics.globalRowNumber(r,
          Seq(col("rnk").asc, col("source").asc), "pos")
        .filter(col("pos") <= 50)
        .select(col("pos"), col("doc_id"), col("source"), col("rnk"),
          col("n_tok"))
        .orderBy("pos")
    }),

    // domain-mixture reweighting: per-source sampling weight that moves
    // the corpus token mix to a UNIFORM target (the static DoReMi-style
    // reweight a mixture sampler consumes). weight = total/(S·tokens) —
    // one multiply + one divide per row in a fixed tree so the oracle
    // replays the exact double bits; repeat_factor is the integer
    // ceil(weight) via cross-multiplied longs (no float in the decision)
    "q_mixture_weights" -> ((s, dir) => {
      val per = t(s, dir, "documents")
        .groupBy("source")
        .agg(sum(graft.functions.Text.tokenCount(col("text")))
          .cast(LongType).as("tokens"))
      val totals = per.agg(sum(col("tokens")).cast(LongType).as("total"),
        count(lit(1)).as("n_sources"))
      per.crossJoin(broadcast(totals))
        .select(col("source"), col("tokens"),
          (col("tokens").cast(DoubleType) / col("total").cast(DoubleType))
            .as("actual_share"),
          (col("total").cast(DoubleType) /
            (col("n_sources").cast(DoubleType) *
              col("tokens").cast(DoubleType))).as("weight"),
          expr("(total + n_sources * tokens - 1) div (n_sources * tokens)")
            .cast(LongType).as("repeat_factor"))
        .orderBy("source")
    }),

    // per-source exact-dedup rate: the corpus-governance report that says
    // WHICH feeds are copy-heavy (survivor = global min doc_id per text,
    // so a dup group spanning sources charges every non-surviving source).
    // Two grouped counts + one small left join; one division per source
    "q_dedup_rate" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val perAll = d.groupBy("source").agg(count(lit(1)).as("n_docs"))
      val perKept = graft.dedup.Dedup.exactKept(d)
        .groupBy("source").agg(count(lit(1)).as("n_kept"))
      perAll.join(perKept, Seq("source"), "left")
        .select(col("source"), col("n_docs"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          ((col("n_docs") - coalesce(col("n_kept"), lit(0L)))
            .cast(DoubleType) / col("n_docs").cast(DoubleType))
            .as("dup_rate"))
        .orderBy("source")
    }),

    // SQL-front-door variants of two round-6 governance reports (VERDICT
    // r6 #8): the same semantics routed through Context.sql so the §2.6
    // entry point (catalog validation + Spark SQL grammar) stays exercised
    // as the surface grows. Chosen because both are cleanly SQL-expressible
    // without windows; the rank-selection queries (q_trimmed_mean et al.)
    // are deliberately NOT given SQL twins — their natural SQL form is a
    // per-group window whose O(rows-per-group) buffer is exactly what the
    // rankedByGroup spine exists to avoid at 100 TB.
    "q_sql_mixture_weights" -> ((s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        WITH per AS (
          SELECT source,
                 CAST(sum(regexp_count(text, '\\S+')) AS BIGINT) AS tokens
          FROM documents GROUP BY source),
        t AS (
          SELECT CAST(sum(tokens) AS BIGINT) AS total,
                 CAST(count(*) AS BIGINT) AS n_sources
          FROM per)
        SELECT source, tokens,
               CAST(tokens AS DOUBLE) / CAST(total AS DOUBLE) AS actual_share,
               CAST(total AS DOUBLE) /
                 (CAST(n_sources AS DOUBLE) * CAST(tokens AS DOUBLE)) AS weight,
               CAST((total + n_sources * tokens - 1) div (n_sources * tokens)
                 AS BIGINT) AS repeat_factor
        FROM per CROSS JOIN t ORDER BY source""")
    }),

    // §2.6 front door for the DP release: the same discrete-Laplace bit
    // arithmetic in SQL text, exercising the extension-registered
    // rolling_fingerprint function through the catalog-validated door
    "q_sql_dp_release" -> ((s, dir) => {
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
    }),

    // §2.6 front-door parity for the round-8 l-diversity audit: the
    // same classes/totals shape expressed through Context.sql (count
    // DISTINCT + CASE totals + 1-row cross join), sharing
    // q_ldiversity's oracle. CAST(n AS BIGINT) pins count(*)'s type,
    // and the count(*) > counts keep both engines in BIGINT.
    "q_sql_ldiversity" -> ((s, dir) => {
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
    }),

    // §2.6 front-door parity for the Kneser–Ney table: the whole train
    // pipeline is ANSI-expressible, so the same counts + one double
    // expression run through Context.sql and converge on q_kn_lm's
    // oracle (Spark SQL slice/zip_with are 1-based like the DF path)
    "q_sql_kn_lm" -> ((s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        WITH toks AS (SELECT filter(split(text, ' '), x -> x != '') AS tk
            FROM documents),
        bigrams AS (
          SELECT bg.w1 AS w1, bg.w2 AS w2 FROM toks
          LATERAL VIEW explode(zip_with(
            slice(tk, 1, size(tk) - 1), slice(tk, 2, size(tk) - 1),
            (a, b) -> struct(a AS w1, b AS w2))) t AS bg
          WHERE size(tk) > 1),
        bg AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
               FROM bigrams GROUP BY w1, w2),
        ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c_ctx,
            CAST(count(*) AS BIGINT) AS n_follow FROM bg GROUP BY w1),
        prec AS (SELECT w2, CAST(count(*) AS BIGINT) AS n_prec
                 FROM bg GROUP BY w2),
        types AS (SELECT CAST(count(*) AS BIGINT) AS b_types FROM bg)
        SELECT bg.w1, bg.w2, bg.c12, ctx.c_ctx, ctx.n_follow, prec.n_prec,
          round(greatest(CAST(bg.c12 AS DOUBLE) - CAST(0.75 AS DOUBLE),
              CAST(0 AS DOUBLE)) / CAST(ctx.c_ctx AS DOUBLE)
            + CAST(0.75 AS DOUBLE) * CAST(ctx.n_follow AS DOUBLE)
              / CAST(ctx.c_ctx AS DOUBLE)
              * (CAST(prec.n_prec AS DOUBLE) / CAST(types.b_types AS DOUBLE)),
            6) AS p_kn,
          types.b_types, CAST(0.75 AS DOUBLE) AS discount
        FROM bg JOIN ctx USING (w1) JOIN prec USING (w2) CROSS JOIN types
        WHERE bg.c12 >= 5
        ORDER BY w1, w2""")
    }),

    "q_sql_dedup_rate" -> ((s, dir) => {
      val ctx = Context.forSfDir(s, dir)
      ctx.sql("""
        WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents
          GROUP BY text),
        pa AS (SELECT source, count(*) AS n_docs FROM documents
          GROUP BY source),
        pk AS (SELECT d.source, count(*) AS n_kept
          FROM documents d JOIN keep k ON d.doc_id = k.doc_id
          GROUP BY d.source)
        SELECT pa.source, pa.n_docs,
               CAST(coalesce(pk.n_kept, 0) AS BIGINT) AS n_kept,
               CAST(pa.n_docs - coalesce(pk.n_kept, 0) AS DOUBLE) /
                 CAST(pa.n_docs AS DOUBLE) AS dup_rate
        FROM pa LEFT JOIN pk ON pa.source = pk.source
        ORDER BY pa.source""")
    }),

    // pairwise vocabulary containment |A∩B|/|A| between sources — the
    // cross-feed redundancy signal behind mixture design (two feeds with
    // near-total vocabulary containment are near-substitutes). Postings
    // join on the distinct (source, token) table: each token contributes
    // at most |sources|² pair rows, so the join is vocabulary-bounded ×
    // a small constant, never corpus-sized; sources are feeds (bounded
    // cardinality), not an unbounded key
    "q_vocab_overlap" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("source"),
          explode(split(col("text"), "\\s+")).as("tok"))
        .filter(col("tok") =!= "").distinct()
      val sizes = toks.groupBy("source").agg(count(lit(1)).as("n_types_a"))
      toks.select(col("source").as("src_a"), col("tok"))
        .join(toks.select(col("source").as("src_b"), col("tok")), Seq("tok"))
        .filter(col("src_a") =!= col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
        .join(sizes.withColumnRenamed("source", "src_a"), Seq("src_a"))
        .select(col("src_a"), col("src_b"), col("n_shared"),
          col("n_types_a"),
          (col("n_shared").cast(DoubleType) /
            col("n_types_a").cast(DoubleType)).as("containment"))
        .orderBy("src_a", "src_b")
    }),

    // bounded-round k-core peeling on the part co-purchase graph
    // (median degree ~115): 3 peels at k=90 strip the sparse periphery
    // and its cascade; the dense co-purchase core survives. Fixed rounds keep the computation recursion-free so
    // the twin unrolls it exactly.
    "q_kcore" -> ((s, dir) => {
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
    }),

    // temporal dimension lookup: each purchase joined to the SCD2
    // history row valid AT purchase time (valid_from <= ts < valid_to) —
    // equi-join on the key with the interval as residual, bounded per-key
    "q_scd_lookup" -> ((s, dir) => {
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
    }),

    // simhash threshold calibration: hamming distance next to the exact
    // shingle Jaccard for every pigeonhole-complete candidate pair — the
    // evidence for choosing a production radius on THIS corpus
    "q_simhash_calibration" -> ((s, dir) =>
      Dedup.simhashCalibration(t(s, dir, "documents"), maxHamming = 3,
          shingle = 5)
        .orderBy("id_a", "id_b")),

    // deterministic negative sampling for link prediction: affine
    // proposals anti-joined against the (undirected) edge set — same
    // negatives on every run/partitioning/engine, unlike RNG sampling
    "q_negative_edges" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val n = docs.count() // single bounded scalar, never data-sized
      val id = col("doc_id")
      val nodes = docs.select(id.as("node_id"))
      val edges = ringSkipAffineEdges(docs, n, id)
      graft.graph.Negatives.sample(nodes, edges, n, proposals = 3)
        .orderBy("src", "dst")
    }),

    // calendar gap-fill + linear interpolation of each user's daily
    // purchase series — per-key spine (no global day x user cross join),
    // fill windows ride the same user_id hash partitioning
    "q_interpolate" -> ((s, dir) => {
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
    }),

    // SCD2 dimension history: build versioned history from the pre-cutoff
    // change log, then incrementally apply the post-cutoff delta — closed
    // rows pass through without re-windowing (the 100 TB-relevant property:
    // apply cost is O(delta), not O(history))
    "q_scd2" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val cutoff = lit("2024-01-16").cast(TimestampType)
      val attrs = Seq("event_type", "value")
      val history = graft.operators.Scd.buildHistory(
        ev.filter(col("ts") < cutoff), "user_id", "ts", "event_id", attrs)
      graft.operators.Scd.applyChanges(history,
          ev.filter(col("ts") >= cutoff), "user_id", "ts", "event_id", attrs)
        .withColumn("is_current", col("valid_to").isNull)
        .orderBy("user_id", "valid_from", "change_id")
    }),

    // Deequ-style data-quality expectation suite: all lineitem checks run
    // as ONE aggregate pass (one scan at 100 TB, not |checks| scans), the
    // orders checks (incl. a count-distinct uniqueness branch) as another,
    // and the FK check as a left join against the distinct parent key set.
    // Exact integer violation counts — no float ratios — so every row
    // hash-compares. Checks are chosen so both outcomes appear: range/set
    // violations fire on the tightened bounds, the rest are clean.
    "q_expectations" -> ((s, dir) => {
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
    }),

    // snapshot diff: classify every order key across two table versions
    // (before/after are deterministic date slices of orders; urgent
    // orders get a price bump in the "after" version so all three change
    // classes appear). One full-outer join on the key — at 100 TB both
    // snapshots are bucketed on the key so the join co-locates.
    "q_table_diff" -> ((s, dir) => {
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
    }),

    // incremental aggregate maintenance (materialized-view refresh): the
    // maintained state = agg(old slice) ⊕ agg(new slice), merged by
    // addition on (DECIMAL sum, count) — refresh cost scales with the
    // delta, never the corpus. The oracle recomputes the SAME aggregate
    // from the full table, proving state ⊕ delta ≡ full recompute
    // (avg derived at read time from the exact decimal sum).
    "q_incremental_agg" -> ((s, dir) => {
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
    }),

    // leakage-safe train/eval split: near-duplicate documents co-assign to
    // the same split (pairs → connected components → hash split on the
    // component label), so eval never contains a near-copy of a training
    // doc. Same pair generator as q_dedup_survivors; the twin relabels
    // components with the recursive CTE and replays the two-limb split
    // hash on the component id.
    "q_split_leakage_safe" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5,
        maxDocFreq = 200)
      Dedup.leakageSafeSplit(docs, pairs, trainPct = 80)
        .select("doc_id", "component", "split")
        .orderBy("doc_id")
    }),

    // key-skew diagnosis before a shuffle: per-key count distribution
    // shape for two candidate join/group keys — the "measure before
    // salting" report (skew_factor in the tens → saltedJoin/AQE skew)
    "q_skew_report" -> ((s, dir) =>
      graft.functions.Profile.skewReport(t(s, dir, "lineitem"),
          Seq("l_orderkey", "l_suppkey"))
        .orderBy("key_col")),

    // distribution drift between two corpus slices per language stratum;
    // the 10% gate is decided in exact cross-multiplied longs (no float
    // share ever enters the decision), shares emitted as per-row
    // quotients for reporting
    "q_drift" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.functions.Profile.distributionDrift(
          d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1),
          "lang")
        .orderBy("lang")
    }),

    // cluster labeling (c-TF-IDF-style "what is this cluster about"):
    // top-3 terms per k-means cluster by exact count. The rank window is
    // partitioned by cluster and runs over (cluster × vocab) count rows —
    // bounded by vocabulary, never by corpus. Twin = the bit-deterministic
    // k-means replay (q_semdedup's CTEs) + counts + rank.
    "q_cluster_terms" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val docs = t(s, dir, "documents")
      val cents = graft.similarity.Ivf.train(emb, k = 8, iters = 1)
      val assign = graft.similarity.Ivf.assign(emb, cents)
        .select(col("vec_id").as("doc_id"),
          col("centroid_id").cast(IntegerType).as("cluster"))
      val toks = docs.join(assign, "doc_id")
        .select(col("cluster"), explode(split(col("text"), "\\s+")).as("term"))
        .filter(col("term") =!= "")
      val counts = toks.groupBy("cluster", "term").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("cluster")
        .orderBy(col("n").desc, col("term").asc)
      counts.withColumn("rnk", row_number().over(w).cast(LongType))
        .filter(col("rnk") <= 3)
        .orderBy("cluster", "rnk")
    }),

    // robust outlier gate: median absolute deviation (MAD) per group —
    // the quantile analog of q_outliers' z-score (robust to the heavy
    // tail that inflates a stddev gate). dev > 4.4478·mad ≈ |z_robust|>3;
    // exact interpolated percentiles (quantile_cont twin), multiply-only
    // predicate, exact counts.
    "q_mad_outliers" -> ((s, dir) =>
      graft.operators.Analytics.madOutliers(t(s, dir, "orders"),
          "o_orderpriority", "o_totalprice")
        .orderBy("o_orderpriority")),

    // integer-exact exponentially-decayed engagement: newest of the last
    // 16 events weighs 2^15, the 16th weighs 1 — the decayed sum is a sum
    // of distinct powers of two (exact BIGINT), score = num / 2^15
    // (power-of-two division, exact double). Window partitioned by user.
    "q_decay" -> ((s, dir) =>
      graft.operators.Analytics.decayedScore(t(s, dir, "events"),
          eventType = "click", k = 16)
        .orderBy("user_id")),

    // corpus novelty rate: per-doc share of distinct word 3-grams whose
    // FIRST corpus occurrence (min doc_id) is this doc — down-weights
    // templated/spun recombinations during curation. Longs end-to-end
    // (64-bit gram fingerprints); one quotient per row.
    "q_novelty" -> ((s, dir) =>
      graft.functions.Text.noveltyRate(t(s, dir, "documents"), n = 3)
        .orderBy("doc_id")),

    // Borda rank fusion of three integer quality signals (chars, tokens,
    // chars-per-1000-tokens) stratified by language: rank windows
    // partition by lang, ranks sum in longs, top-5 per stratum survive.
    // No float enters any ordering — engine-independent by construction.
    "q_rank_ensemble" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.Analytics.bordaFusion(
        d.withColumn("n_tokens", graft.functions.Text.tokenCount(col("text"))),
        groupCol = "lang", idCol = "doc_id",
        signals = Seq(
          "s_chars" -> col("n_chars"),
          "s_tokens" -> col("n_tokens"),
          "s_density" -> expr("n_chars * 1000L div greatest(n_tokens, 1L)")),
        topk = 5)
        .orderBy("lang", "final_rank")
    }),

    // HTML → text extraction (web-corpus ingestion): the corpus is plain
    // text, so the query deterministically wraps it in markup — element
    // drops (script/style), tag strips, entity decodes, an UNCLOSED
    // script tag every 7th doc — then runs the native one-pass kernel.
    // The twin replays the exact 4-stage regexp chain in DuckDB.
    "q_html_extract" -> ((s, dir) => {
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id"),
        lit("</title><style type=\"text/css\">body { color: #fff; }" +
          "</style></head><body><h1>Doc &amp; "), col("doc_id"),
        lit("</h1><script>var x = 1 < 2 && 3 > 2;</script>" +
          "<p class=\"main\">"), col("text"),
        lit("</p><span>&lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end" +
          "</span>"),
        when(col("doc_id") % 7 === 0, lit("<script>unclosed"))
          .otherwise(lit("")),
        lit("</body></html>"))
      t(s, dir, "documents")
        .select(col("doc_id"), native.html_extract_text(html).as("extracted"))
        .orderBy("doc_id")
    }),

    // Wilson 95% lower-bound CTR per item (the ranking-under-uncertainty
    // score: a 2/2 item must NOT outrank a 95/100 one). Counts are exact
    // longs; the bound is one fixed double expression tree over them —
    // +,*,/,sqrt are all correctly rounded, so any engine reproduces it
    // bit-for-bit. Item id parsed from the JSON props.
    "q_wilson" -> ((s, dir) => {
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
    }),

    // k-anonymity audit on the (lang, source) quasi-identifier: classes
    // smaller than k=10 are re-identifiable; risk share decided in longs
    "q_kanon" -> ((s, dir) =>
      graft.operators.Expectations.kAnonymity(
          t(s, dir, "documents"), Seq("lang", "source"), k = 10)
        .orderBy("lang", "source")),

    // l-diversity audit (k-anonymity's sensitive-value counterpart): a
    // (event_type, day) class whose events come from < 50 distinct users
    // is re-identifiable however large it is; day stays a TIMESTAMP
    // (date_trunc) on both sides — the engine-portable date idiom
    "q_ldiversity" -> ((s, dir) =>
      graft.operators.Expectations.lDiversity(
          t(s, dir, "events")
            .withColumn("day", date_trunc("day", col("ts"))),
          Seq("event_type", "day"), "user_id", l = 50)
        .orderBy("event_type", "day")),

    // t-closeness audit completes the privacy triad: per-day sensitive
    // (event_type) distribution vs the global mix, total-variation
    // distance computed on integer cross-multiplied cell counts so the
    // per-class fold is order-independent; one double expr at the end
    "q_tcloseness" -> ((s, dir) =>
      graft.operators.Expectations.tCloseness(
          t(s, dir, "events")
            .withColumn("day", date_trunc("day", col("ts"))),
          Seq("day"), "event_type", t = 0.1)
        .orderBy("day")),

    // leakage-safe TIME split with a 2-day embargo gap before the eval
    // cutoff: sessions/trends straddling a knife-edge boundary leak
    // across it, so the gap rows are dropped, not assigned. Explicit
    // cutoff literal — reproducible under late-arriving data.
    "q_time_split" -> ((s, dir) =>
      graft.functions.Profile.timeEmbargoSplit(t(s, dir, "events"), "ts",
          "2024-01-24 00:00:00", embargoDays = 2)
        .groupBy("event_type", "split")
        .agg(count(lit(1)).as("n"), min("event_id").as("min_id"),
          max("event_id").as("max_id"))
        .orderBy("event_type", "split")),

    // differentially-private count release (discrete Laplace / two-sided
    // geometric at eps = ln 2) — the release counterpart to q_kanon's
    // audit; the noise draw is derandomized from the group-key
    // fingerprint (integer bit arithmetic only), so both engines replay
    // the released counts bit-for-bit
    "q_dp_release" -> ((s, dir) =>
      // key-derandomized variant: replayable by the DuckDB twin; the
      // library mechanism (dpNoisedCounts) seeds from a CSPRNG
      graft.operators.Expectations.dpNoisedCountsKeyDerandomized(
          t(s, dir, "documents"), "source")
        .orderBy("source")),

    // per-query reciprocal rank of the LSH list vs the exact top-5 (the
    // metric behind MRR) — 1/first-hit-rank, one exact division per row
    "q_mrr" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = Ann.selfQueries(emb, 10)
      val exact = Ann.bruteForceTopK(emb, qs, k = 5)
      val approx = Ann.lshTopK(emb, qs, k = 5, planes = 6)
      Ann.reciprocalRank(exact, approx, qs).orderBy("query_id")
    }),

    // nDCG@5 of the LSH index vs exact ranking — the graded retrieval
    // metric (recall counts hits, MRR the first hit; nDCG rewards
    // putting the BEST neighbors highest). log2 discounts ride both
    // plans as shared literals (libm log2 isn't correctly rounded);
    // the per-query DCG is an ordered fold over <= 5 collected ranks
    "q_ann_ndcg" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = Ann.selfQueries(emb, 10)
      val exact = Ann.bruteForceTopK(emb, qs, k = 5)
      val approx = Ann.lshTopK(emb, qs, k = 5, planes = 6)
      Ann.ndcgAtK(exact, approx, qs, k = 5)
        .select(col("query_id"), round(col("dcg"), 6).as("dcg"),
          round(col("ndcg"), 6).as("ndcg"))
        .orderBy("query_id")
    }),

    // exact equi-join cardinality from per-key histograms, validated
    // in-query against the materialized join — the pre-shuffle planning
    // primitive (broadcast vs SMJ vs salt) exercised as a contract
    "q_join_size" -> ((s, dir) => {
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
    }),

    // corpus-mixture reweighting: per-lang sampling weight that hits the
    // literal target shares; exact long ratio + one double quotient
    "q_mix_weights" -> ((s, dir) =>
      graft.functions.Profile.mixtureWeights(t(s, dir, "documents"), "lang",
          Map("en" -> 40L, "de" -> 15L, "es" -> 15L, "fr" -> 15L,
            "zh" -> 15L))
        .orderBy("lang")),

    // CUSUM drift detector on hourly per-type event counts: the reset
    // recursion unrolled to running-sum minus reflected running-min —
    // two window frames per key, all longs, no recursion anywhere
    "q_cusum" -> ((s, dir) => {
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"))
      graft.operators.TimeSeries.cusum(hourly, "event_type", "hour", "n",
          target = 3L, threshold = 10L)
        .orderBy("event_type", "hour")
    }),

    // weighted cheapest paths (4 Bellman-Ford relax rounds = exact min
    // cost over ≤4-hop paths) on the same ring+skip+affine graph as
    // q_bfs, with deterministic integer weights; the twin is the
    // recursive-CTE min over all bounded-hop paths
    "q_sssp" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val n = docs.count() // single bounded scalar, never data-sized
      val id = col("doc_id")
      val edges = ringSkipAffineEdges(docs, n, id)
        .withColumn("w", (col("src") % 5) + 1)
      val sources = docs.filter(id < 2).select(id.as("node_id"))
      graft.graph.Sssp.cheapestPaths(edges, sources, maxHops = 4)
        .orderBy("node_id")
    }),

    // first-order Markov transition matrix over per-user event sequences
    // (lead window partitioned by user — bounded partitions); exact
    // counts, per-row IEEE probability quotient
    "q_transitions" -> ((s, dir) =>
      graft.operators.Analytics.transitionMatrix(t(s, dir, "events"))
        .orderBy("from_type", "to_type")),

    // positional inverted-index phrase search: three posting lists
    // equi-joined on (doc, pos − offset) — token-exact (not substring),
    // reads postings not the corpus. Twin replays the positional join.
    "q_phrase_search" -> ((s, dir) =>
      graft.functions.Text.phraseSearch(t(s, dir, "documents"),
          Seq("table", "part", "a"))
        .orderBy("doc_id", "pos")),

    // BPE merge training: k rounds of count-adjacent-pairs → merge the
    // most frequent pair, run on the BOUNDED word-frequency table (one
    // corpus scan; iteration cost independent of corpus size). The twin
    // replays all k rounds as unrolled CTEs — replace() is left-to-right
    // non-overlapping in both engines, which IS the BPE merge rule.
    "q_bpe_train" -> ((s, dir) =>
      graft.functions.Text.bpeTrainMerges(t(s, dir, "documents"), k = 6)
        .orderBy("merge_rank")),

    // BPE ENCODE: per-doc token counts under the 6-merge tokenizer the
    // corpus itself trains — the train→encode loop that budgets corpora
    // in "our tokens", not whitespace tokens. Application is a k-deep
    // chain of builtin replace() on the spaced word form (narrow,
    // codegen'd); merges are k bounded driver rows.
    "q_bpe_encode" -> ((s, dir) =>
      graft.functions.Text.bpeEncode(t(s, dir, "documents"), k = 6)
        .orderBy("doc_id")),

    // Count-Min Sketch built purely relationally (grouped count = the
    // d×w counter matrix, map-side combined; estimates = broadcast join +
    // min over the d rows). w=64 over 150+ users forces real collisions,
    // so `exact` is false for collided keys while the CMS guarantee
    // est ≥ true (`ge_true`) holds for every key — both checked in-query
    // and replayed bit-exactly by the twin via the same two-limb hash.
    "q_cms" -> ((s, dir) => {
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
    }),

    // media perceptual-hash near-dup: aHash/pHash-shaped bits (byte-slot
    // mean vs whole-payload mean, exact integer cross-multiplication) →
    // 4-bit band buckets → exact Hamming verify — image/audio near-dup
    // without pairwise payload compares. The twin replays the byte-slot
    // sums, the bit rule, the banding, and xor/bit_count in SQL.
    "q_media_phash" -> ((s, dir) =>
      Multimodal.phashNearDupPairs(
          Multimodal.mediaFromDocuments(t(s, dir, "documents")),
          dim = 32, maxHamming = 2)
        .orderBy("id_a", "id_b")),

    // hashed-bag-of-words linear classifier (fastText-shaped quality
    // model APPLY): narrow per-row fold over the token array — runs at
    // parquet-scan speed, no shuffle/explode/UDF
    // batch perceptron training for a language/quality filter: integer
    // features (bias, tokens, chars, digits), label ±1 on lang='en',
    // 3 batch rounds w += Σ_miscl y·x — the weight trajectory is pure
    // 64-bit integer arithmetic, replayed exactly by the unrolled twin
    "q_perceptron_train" -> ((s, dir) =>
      graft.functions.Text.perceptronTrain(t(s, dir, "documents"),
          iters = 3)
        .orderBy("iter")),

    // classifier reliability table over the quality-filter stack (train:
    // q_perceptron_train, apply: q_classify): linearScore clamped into
    // 10 equal-width bins over [-1,1] with the q_histogram clamp+floor
    // expression, per-bin positive rate for lang='en' — integer counts
    // + one exact division, so the curve hash-checks cross-engine
    "q_calibration" -> ((s, dir) =>
      graft.operators.Analytics.calibration(
        t(s, dir, "documents").select(
          graft.functions.Text.linearScore(col("text")).as("score"),
          when(col("lang") === "en", 1L).otherwise(0L).as("label")),
        "score", "label", lo = -1.0, hi = 1.0, buckets = 10)),

    "q_classify" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.Text.linearScore(col("text")).as("score"))
        .withColumn("keep", col("score") > lit(0.0))
        .orderBy("doc_id")),

    // multi-source BFS seed distance (TrustRank-style hop prior) on the
    // same ring+skip+affine synthetic graph as q_triangles; level-
    // synchronous frontier expansion, every step an equi-join on a node
    // id — the twin replays it as a recursive CTE with min-over-paths
    // deterministic label-propagation communities (3 synchronous rounds,
    // smallest-label ties) on the same ring+skip+affine graph as
    // q_triangles/q_bfs, reported as (label, member count); the twin
    // unrolls the rounds with a row_number argmax per node
    "q_label_prop" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val n = docs.count() // single bounded scalar, never data-sized
      val id = col("doc_id")
      val edges = ringSkipAffineEdges(docs, n, id)
      val nodes = docs.select(id.as("id"))
      graft.graph.LabelProp.run(nodes, edges, iters = 3)
        .groupBy("label").agg(count(lit(1)).as("n_members"))
        .orderBy("label")
    }),

    "q_bfs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val n = docs.count() // single bounded scalar, never data-sized
      val id = col("doc_id")
      val edges = ringSkipAffineEdges(docs, n, id)
      val sources = docs.filter(id < 2).select(id.as("node_id"))
      graft.graph.Bfs.hops(edges, sources, maxHops = 4).orderBy("node_id")
    }),

    // hybrid retrieval: BM25 top-50 fused with cosine-ANN top-50 by
    // reciprocal-rank fusion (k=60) — the heavy work is the two bounded
    // upstream top-k operators; the fuse joins two <=50-row lists. The
    // rank window below runs AFTER bm25's sort+limit, so it orders <= 50
    // rows — bounded by construction, not a data-sized global window.
    "q_rrf_hybrid" -> ((s, dir) => {
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
    }),

    // MMR diversity re-rank (Carbonell & Goldstein 1998) of the exact
    // top-30 for query 0: candidates and their 30x30 sim matrix are
    // bounded upstream top-k products (the distributed part); the greedy
    // selection runs over <= 30 driver rows. All cosines rounded to 6
    // decimals BEFORE selection so both engines pick from identical
    // values; the twin unrolls the 10 greedy rounds as chained CTEs.
    "q_mmr_rerank" -> ((s, dir) => {
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
    }),

    // cluster-blocked k-NN graph (NN-Descent / HNSW seeding): exact top-3
    // within each trained coarse cell — O(sum c_i^2), never O(n^2); the
    // twin replays the bit-deterministic k-means prefix then ranks within
    // cells
    "q_knn_graph" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = graft.similarity.Ivf.train(emb, k = 8, iters = 1)
      graft.similarity.Ivf.knnGraph(emb, cents, k = 3)
        .orderBy("query_id", "rank")
    }),

    // budget-gated graph build (the q_dedup_autocap pattern for ANN):
    // cell count sized FROM the corpus (ceil(n/256), floor 8) and the
    // blocked pair volume priced by one slim aggregate BEFORE the
    // self-join commits — at both gate scales the auto choice lands on
    // 8 cells, so the result (and the DuckDB twin) is q_knn_graph's
    // verbatim; what's new is the refusal path a collapse-skewed corpus
    // would hit, proven by the 100x embedding stress in SCALE.md
    "q_knn_graph_auto" -> ((s, dir) =>
      graft.similarity.Ivf.knnGraphAuto(t(s, dir, "embeddings"), k = 3,
          targetCellSize = 256, minCells = 8, iters = 1)
        .orderBy("query_id", "rank")),

    // PMI collocation mining (phrase/merge-candidate signal): adjacent
    // bigrams vs the unigram model, long tail dropped BEFORE the
    // vocabulary joins
    "q_pmi" -> ((s, dir) =>
      graft.functions.Text.pmiCollocations(
        t(s, dir, "documents"), minCount = 5, topk = 20)),

    // Kneser–Ney bigram LM (the train side of an n-gram perplexity
    // filter): all denominators counted over ALL bigrams, output filtered
    // to the c12 >= 5 head; the smoothed probability is one per-row
    // double expression over exact integers, mirrored shape-for-shape in
    // the twin
    "q_kn_lm" -> ((s, dir) =>
      graft.functions.Text.kneserNeyBigrams(
          t(s, dir, "documents"), discount = 0.75, minCount = 5)
        .orderBy("w1", "w2")),

    // one order up: interpolated trigram KN with continuation counts at
    // both lower levels (the textbook recursion) — exact integer
    // type-counts, one nested double expression mirrored in the twin
    "q_kn_trigram" -> ((s, dir) =>
      graft.functions.Text.kneserNeyTrigrams(
          t(s, dir, "documents"), discount = 0.75, minCount = 5)
        .orderBy("w1", "w2", "w3")),

    // trigram scorer: train the trigram KN on non-src1 (minCount=1) and
    // score src1 with the full backoff chain — seen triple / reserved
    // context mass / mid-level model / continuation base / OOV floor
    "q_kn_trigram_ppl" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // parts-mode scoring (bit-identical at minCount=1): the scorer
      // consumes the trainer's slim aggregate tables directly instead of
      // materializing the fat model and re-deriving them with four
      // distinct() shuffles per call (guide §2.4/§1.2)
      val parts = graft.functions.Text.kneserNeyTrigramsParts(
        docs.filter(col("source") =!= "src1"), minCount = 1)
      graft.functions.Text.knTrigramPerplexityFromTables(
          docs.filter(col("source") === "src1"), parts.head, parts.ctx12,
          parts.mid, parts.ctx2, parts.c3, parts.consts)
        .orderBy("doc_id")
    }),

    // the score side of the perplexity filter: train interpolated KN on
    // the non-src1 corpus, score src1 docs — cross-corpus, so the seen /
    // context-backoff / OOV-floor paths are all genuinely exercised.
    // Per-bigram log-probs accumulate as DECIMAL (exact under any
    // partitioning); only the final per-doc division/exp is double
    "q_kn_perplexity" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // parts-mode scoring, the q_kn_trigram_ppl rationale one order down
      val parts = graft.functions.Text.kneserNeyBigramsParts(
        docs.filter(col("source") =!= "src1"), minCount = 1)
      graft.functions.Text.knPerplexityFromTables(
          docs.filter(col("source") === "src1"), parts.head, parts.ctx,
          parts.prec, parts.consts)
        .orderBy("doc_id")
    }),

    // STORED-model scoring — the shape a 100 TB pipeline actually runs
    // (train the LM nightly, score shards from the stored table, never
    // retrain per batch): the trained bigram model is written to parquet
    // (Sinks.writeParquet), re-read as an independent table, and scored.
    // Works because the model is SELF-DESCRIBING (b_types + discount
    // ride along) and parquet round-trips every column exactly (longs;
    // p_kn pre-rounded to 6dp) — the twin is therefore q_kn_perplexity's
    // verbatim. Fixed path overwritten per run (bounded disk, the
    // q_cdc_stream pattern): the scorer reads the files LAZILY, so the
    // path must outlive the query's consumption
    "q_kn_score_stored" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val modelPath = scratch("kn_model")
      val parts = graft.functions.Text.kneserNeyBigramsParts(
        docs.filter(col("source") =!= "src1"), minCount = 1)
      // the nightly train ALSO stores the slim backoff tables next to the
      // model (they are tiny aggregates of the already-persisted bigram
      // table), so every stored-model scoring call reads them directly
      // instead of re-deriving them from the fat model with one full
      // model shuffle per table per call (guide §1.2: fix the pass
      // count). The seen-pair join still reads the STORED model, pruned
      // to (w1, w2, c12); the scorer recomputes the trainer's rounded
      // p_kn from those exact longs — bit-identical to the stored column.
      // All four artifacts are independent reads of the same persisted
      // bigram table — overlap the writes (guide §2.6, the
      // Ivf.buildVersionDirAt pattern) instead of paying four serial
      // job barriers.
      val tbl = scratch("kn_model_tables")
      graft.engine.Par.run(Seq[() => Unit](
        () => graft.sources.Sinks.writeParquet(parts.model, modelPath),
        () => graft.sources.Sinks.writeParquet(parts.ctx, s"$tbl/ctx"),
        () => graft.sources.Sinks.writeParquet(parts.prec, s"$tbl/prec"),
        () => graft.sources.Sinks.writeParquet(parts.consts, s"$tbl/consts")))
      graft.functions.Text.knPerplexityFromTables(
          docs.filter(col("source") === "src1"),
          s.read.parquet(modelPath).select(col("w1"), col("w2"), col("c12")),
          s.read.parquet(s"$tbl/ctx"), s.read.parquet(s"$tbl/prec"),
          s.read.parquet(s"$tbl/consts"))
        .orderBy("doc_id")
    }),

    // the TRIGRAM stored-model path (same trade as q_kn_score_stored one
    // order up): the deeper model's extra columns (c123..cont3, b23,
    // discount) are longs and pre-rounded/literal doubles — all parquet-
    // exact — so scoring from the stored table equals the in-memory
    // q_kn_trigram_ppl bit-for-bit and the twin is shared verbatim
    "q_kn_trigram_score_stored" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val modelPath = scratch("kn_tri_model")
      val parts = graft.functions.Text.kneserNeyTrigramsParts(
        docs.filter(col("source") =!= "src1"), minCount = 1)
      // store the slim backoff tables at train time (q_kn_score_stored
      // rationale one order up): serve-side loses the fat-model
      // materialization + four distinct() shuffles per scoring call.
      // Independent artifacts of the same persisted trigram table —
      // overlapped writes (guide §2.6), not six serial job barriers.
      val tbl = scratch("kn_tri_model_tables")
      graft.engine.Par.run(Seq[() => Unit](
        () => graft.sources.Sinks.writeParquet(parts.model, modelPath),
        () => graft.sources.Sinks.writeParquet(parts.ctx12, s"$tbl/ctx12"),
        () => graft.sources.Sinks.writeParquet(parts.mid, s"$tbl/mid"),
        () => graft.sources.Sinks.writeParquet(parts.ctx2, s"$tbl/ctx2"),
        () => graft.sources.Sinks.writeParquet(parts.c3, s"$tbl/c3"),
        () => graft.sources.Sinks.writeParquet(parts.consts, s"$tbl/consts")))
      graft.functions.Text.knTrigramPerplexityFromTables(
          docs.filter(col("source") === "src1"),
          s.read.parquet(modelPath)
            .select(col("w1"), col("w2"), col("w3"), col("c123")),
          s.read.parquet(s"$tbl/ctx12"), s.read.parquet(s"$tbl/mid"),
          s.read.parquet(s"$tbl/ctx2"), s.read.parquet(s"$tbl/c3"),
          s.read.parquet(s"$tbl/consts"))
        .orderBy("doc_id")
    }),

    // HITS hubs/authorities (2 unnormalized rounds) on the affine link
    // graph — exact path-count integers, so plain sum() is deterministic
    // under any partitioning and the twin replays the rounds verbatim
    "q_hits" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val n = docs.count() // single bounded scalar, never data-sized
      val id = col("doc_id")
      val nodes = docs.select(id.as("node_id"))
      val edges = docs.select(id.as("src"), ((id * 7 + 3) % n).as("dst"))
        .union(docs.select(id.as("src"), ((id * 13 + 5) % n).as("dst")))
      graft.graph.Hits.run(nodes, edges, iters = 2)
        .orderBy("node_id")
    }),

    // SpaceSaving heavy hitters (mergeable k-counter sketch) over the
    // token stream: emits the EXACT top-10 tokens plus the sketch's
    // est-err bound check per item — the q_approx_* contract pattern;
    // the flags are TRUE under any merge order (the sketch invariant),
    // which is what the twin hash-checks
    "q_heavy_hitters" -> ((s, dir) => {
      val toks = t(s, dir, "documents").select(
        explode(filter(split(col("text"), " "), x => x =!= "")).as("tok"))
      graft.functions.SpaceSavingOps
        .heavyHittersChecked(toks, "tok", k = 256, topn = 10)
    }),

    // ordered-funnel conversion (view -> click -> purchase by FIRST
    // occurrence, strict order): one min-per-step groupBy, stage explode
    // bounded by the literal step count — event volume never fans out
    "q_funnel" -> ((s, dir) =>
      graft.operators.Analytics.funnel(t(s, dir, "events"),
        Seq("view", "click", "purchase"))),

    // weekly cohort retention (Monday-truncated first-event cohorts x
    // week offset): activity deduped to user-weeks BEFORE the cohort join
    "q_cohort" -> ((s, dir) =>
      graft.operators.Analytics.cohortRetention(t(s, dir, "events"))),

    // equi-width histogram of order totals: one narrow bucket map + a
    // 20-group aggregate — the scan-speed distribution profile
    "q_histogram" -> ((s, dir) =>
      graft.operators.Analytics.histogram(t(s, dir, "orders"),
        "o_totalprice", lo = 0.0, hi = 500000.0, buckets = 20)),

    // per-group z-score outlier flagging (anomaly detection for event
    // streams): moments accumulate in DECIMAL (exact, order-independent
    // — events.value is 2-dp), mean/sd and z are fixed-shape double
    // expressions, and the outlier predicate is the division-free
    // |v - mean| > 2*sd so both engines compare bit-identical
    // quantities; the per-type stats row is a broadcast, the event
    // stream never shuffles
    "q_outliers" -> ((s, dir) => {
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
    }),

    // equi-DEPTH histogram (decile binning): ONE percentile aggregate
    // yields the 9 boundaries as a broadcast row — never a global
    // sort/ntile window; counts are exact because both engines compute
    // bit-identical interpolated quantiles (q_percentile proves it)
    "q_equidepth" -> ((s, dir) =>
      graft.operators.Analytics.equiDepthHistogram(
        t(s, dir, "orders"), "o_totalprice", buckets = 10)),

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
    "q_quantile_normalize" -> ((s, dir) => {
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
    }),

    // deterministic importance (length-weighted) downsampling: keep doc
    // iff hash-uniform u(doc_id) < tokens/max_tokens — longer documents
    // survive proportionally more often, the standard length-weighted
    // token-budget sampler. All decisions are BIGINT compares on a
    // Knuth-multiplicative hash (u = doc_id·2654435761 mod 2^20), so any
    // engine replays the exact kept set — no RNG, no order dependence.
    // Scale shape: pure narrow map over the scan + one small grouped
    // aggregate; the max-weight is a 1-row broadcast. Reports per-source
    // governance: docs/tokens kept and the retained token share.
    "q_importance_sample" -> ((s, dir) => {
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
    }),

    // TrustRank (personalized PageRank): teleport mass restricted to the
    // doc_id < 2 seed set on the same affine link graph as q_pagerank —
    // rank decays with link distance from the seeds; the twin replays
    // every iteration with seed-conditional base/init expressions
    "q_trustrank" -> ((s, dir) => {
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
    })
  )

  // ===================================================================
  // DuckDB oracle twins. Omitted keys → driver records rows-only check.
  // ===================================================================

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

  /** Shared CTE chain for the simhash twins: tokenize, FNV-1a per token
    * in HUGEINT mod-2^64, per-bit +1/-1 tallies, 64-bit sign list. */
  /** BPE training replay: k rounds unrolled as chained CTEs — each round
    * counts adjacent pairs over the spaced-token word strings (weighted
    * by word freq), picks the (cnt DESC, lhs, rhs) argmax, and applies
    * the merge with the same non-overlapping replace() the engine uses. */
  /** The shared synthetic link graph (ring + skip + affine: id→id+1,
    * id→id+2, id→7·id+3, all mod n) every graph-family query builds on —
    * ONE definition so the constants can never desynchronize across the
    * seven consumers whose twins replay the same three terms in SQL. */
  private def ringSkipAffineEdges(docs: org.apache.spark.sql.DataFrame,
      n: Long, id: Column): org.apache.spark.sql.DataFrame =
    docs.select(id.as("src"), ((id + 1) % n).as("dst"))
      .union(docs.select(id.as("src"), ((id + 2) % n).as("dst")))
      .union(docs.select(id.as("src"), ((id * 7 + 3) % n).as("dst")))

  /** Shared BPE training replay (words → spaced vocab → k argmax/merge
    * rounds) — the ONE definition both [[bpeTwin]] and [[bpeEncodeTwin]]
    * build on, so the two queries can never train different merge
    * sequences. `m$r` is MATERIALIZED: it is referenced by the v-chain,
    * the encode chain, and the finals, and DuckDB would otherwise
    * re-inline the whole upstream per reference. */
  private def bpeTrainCtes(k: Int): String = {
    val head =
      """WITH words AS (
           SELECT w, count(*) AS freq FROM (
             SELECT unnest(regexp_split_to_array(text, '[ \n\t\r]+')) AS w
             FROM documents) WHERE w <> '' GROUP BY w),
         v0 AS (SELECT ' ' || regexp_replace(w, '(.)', '\1 ', 'g') AS s, freq
                FROM words)"""
    val rounds = (1 to k).map { r =>
      s""",
         t$r AS (SELECT string_split(trim(s), ' ') AS t, freq FROM v${r - 1}),
         p$r AS (SELECT t[i] AS l, t[i+1] AS r, CAST(sum(freq) AS BIGINT) AS cnt
           FROM t$r, unnest(generate_series(1, len(t) - 1)) AS g(i)
           GROUP BY 1, 2),
         m$r AS MATERIALIZED (SELECT l, r, cnt FROM p$r
           ORDER BY cnt DESC, l, r LIMIT 1),
         v$r AS (SELECT replace(s,
             ' ' || (SELECT l FROM m$r) || ' ' || (SELECT r FROM m$r) || ' ',
             ' ' || (SELECT l FROM m$r) || (SELECT r FROM m$r) || ' ') AS s, freq
           FROM v${r - 1})"""
    }.mkString
    head + rounds
  }

  private def bpeTwin(k: Int): String = {
    val finals = (1 to k).map(r =>
      s"SELECT $r AS merge_rank, l AS lhs, r AS rhs, l || r AS merged, cnt AS freq FROM m$r")
      .mkString("\n         UNION ALL ")
    bpeTrainCtes(k) + "\n         " + finals + "\n         ORDER BY merge_rank"
  }

  /** BPE ENCODE replay: the same training chain as [[bpeTwin]], then the
    * k merges applied in rank order to every word's spaced form with the
    * identical non-overlapping replace(), summed to per-doc symbol
    * counts. Wordless docs re-attach as zeros via the LEFT JOIN. */
  private def bpeEncodeTwin(k: Int): String = {
    val encode =
      """,
         dw AS (SELECT doc_id,
             unnest(regexp_split_to_array(text, '[ \n\t\r]+')) AS w
           FROM documents),
         e0 AS MATERIALIZED (SELECT doc_id,
             ' ' || regexp_replace(w, '(.)', '\1 ', 'g') AS s
           FROM dw WHERE w <> '')""" +
      (1 to k).map { r =>
        s""",
         e$r AS (SELECT doc_id, replace(s,
             ' ' || (SELECT l FROM m$r) || ' ' || (SELECT r FROM m$r) || ' ',
             ' ' || (SELECT l FROM m$r) || (SELECT r FROM m$r) || ' ') AS s
           FROM e${r - 1})"""
      }.mkString +
      s""",
         perdoc AS (SELECT doc_id,
             CAST(sum(len(string_split(trim(s), ' '))) AS BIGINT)
               AS bpe_tokens,
             count(*) AS n_words
           FROM e$k GROUP BY doc_id)
         SELECT d.doc_id,
           COALESCE(p.bpe_tokens, 0) AS bpe_tokens,
           COALESCE(p.n_words, 0) AS n_words
         FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
         ORDER BY d.doc_id"""
    bpeTrainCtes(k) + encode
  }

  /** Perceptron replay: k unrolled batch rounds. All-integer margins and
    * update sums (cast back to BIGINT — DuckDB widens sum to HUGEINT), so
    * the weight trajectory is exact in both engines. */
  private def perceptronTwin(k: Int): String = {
    val head =
      """WITH feats AS MATERIALIZED (
           SELECT CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
             CAST(1 AS BIGINT) AS x0,
             CAST(length(regexp_extract_all(text, '\S+')) AS BIGINT) AS x1,
             CAST(length(text) AS BIGINT) AS x2,
             CAST(length(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS x3
           FROM documents),
         w0 AS (SELECT CAST(0 AS BIGINT) AS a, CAST(0 AS BIGINT) AS b,
                CAST(0 AS BIGINT) AS c, CAST(0 AS BIGINT) AS d)"""
    val rounds = (1 to k).map { r =>
      val m = s"y * ((SELECT a FROM w${r - 1}) * x0 + " +
        s"(SELECT b FROM w${r - 1}) * x1 + " +
        s"(SELECT c FROM w${r - 1}) * x2 + " +
        s"(SELECT d FROM w${r - 1}) * x3)"
      s""",
         g$r AS MATERIALIZED (SELECT
             CAST(COALESCE(sum(CASE WHEN $m <= 0 THEN y * x0 ELSE 0 END), 0)
               AS BIGINT) AS da,
             CAST(COALESCE(sum(CASE WHEN $m <= 0 THEN y * x1 ELSE 0 END), 0)
               AS BIGINT) AS db,
             CAST(COALESCE(sum(CASE WHEN $m <= 0 THEN y * x2 ELSE 0 END), 0)
               AS BIGINT) AS dc,
             CAST(COALESCE(sum(CASE WHEN $m <= 0 THEN y * x3 ELSE 0 END), 0)
               AS BIGINT) AS dd,
             CAST(COALESCE(sum(CASE WHEN $m <= 0 THEN 1 ELSE 0 END), 0)
               AS BIGINT) AS errs
           FROM feats),
         w$r AS (SELECT
             (SELECT a FROM w${r - 1}) + (SELECT da FROM g$r) AS a,
             (SELECT b FROM w${r - 1}) + (SELECT db FROM g$r) AS b,
             (SELECT c FROM w${r - 1}) + (SELECT dc FROM g$r) AS c,
             (SELECT d FROM w${r - 1}) + (SELECT dd FROM g$r) AS d)"""
    }.mkString
    val finals = (1 to k).map(r =>
      s"""SELECT CAST($r AS BIGINT) AS iter, a AS w_bias, b AS w_tokens,
           c AS w_chars, d AS w_digits,
           (SELECT errs FROM g$r) AS errors FROM w$r""")
      .mkString("\n         UNION ALL ")
    head + rounds + "\n         " + finals + "\n         ORDER BY iter"
  }

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


  /** FIM twin, shared by q_fim and q_sql_fim: same width-safe hash for
    * the apply coin and both cut points, same sorted pair, list slices
    * 1-based inclusive = the engine's slice(start, length) windows;
    * empty slices coalesced (DuckDB array_to_string(NULL on empty)). */
  private val fimTwinSql: String =
    s"""WITH tk AS (SELECT doc_id, text, string_split(text, ' ') AS toks
           FROM documents),
       c AS (
         SELECT doc_id, text, toks, len(toks) AS L,
           (${hash32Sql("doc_id * 17 + 1")}) % (len(toks) + 1) AS h1,
           (${hash32Sql("doc_id * 17 + 2")}) % (len(toks) + 1) AS h2,
           (${hash32Sql("doc_id * 17")}) % 2 = 0 AS applied
         FROM tk),
       s AS (
         SELECT doc_id, text, toks, L, applied,
           least(h1, h2) AS c1, greatest(h1, h2) AS c2
         FROM c)
       SELECT doc_id, applied AS fim_applied,
         CASE WHEN applied THEN
           '<PRE> ' || coalesce(array_to_string(toks[1:c1], ' '), '')
             || ' <SUF> '
             || coalesce(array_to_string(toks[c2+1:L], ' '), '')
             || ' <MID> '
             || coalesce(array_to_string(toks[c1+1:c2], ' '), '')
         ELSE text END AS transformed
       FROM s ORDER BY doc_id"""

  /** Span-corruption twin, shared by q_span_corrupt and
    * q_sql_span_corrupt: the same Knuth hash mask, gaps-and-islands
    * runs, dense-rank sentinel ids, and string_agg ordered by
    * (pos, prio, part) — the engine's sort_array struct order. */
  private val spanCorruptTwinSql: String =
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks
             FROM documents),
         tok AS (
           SELECT doc_id, s.i - 1 AS pos, toks[s.i] AS tok
           FROM tk, unnest(generate_series(1, len(toks))) AS s(i)),
         f AS (
           SELECT doc_id, pos, tok,
             (${hash32Sql("doc_id * 131 + pos")}) % 5 = 0 AS masked
           FROM tok),
         m AS (
           SELECT doc_id, pos, tok,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS island
           FROM f WHERE masked),
         si AS (
           SELECT doc_id, pos, tok, island,
             dense_rank() OVER (PARTITION BY doc_id ORDER BY island) - 1
               AS sid
           FROM m),
         st AS (
           SELECT doc_id, min(pos) AS pos, 1 AS prio,
             '<extra_id_' || sid || '>' AS part
           FROM si GROUP BY doc_id, island, sid),
         up AS (SELECT doc_id, pos, 2 AS prio, tok AS part
           FROM f WHERE NOT masked),
         mp AS (SELECT doc_id, pos, 2 AS prio, tok AS part FROM si),
         mt AS (
           SELECT doc_id,
             string_agg(part, ' ' ORDER BY pos, prio, part)
               AS masked_text
           FROM (SELECT * FROM up UNION ALL SELECT * FROM st)
           GROUP BY doc_id),
         tt AS (
           SELECT doc_id,
             string_agg(part, ' ' ORDER BY pos, prio, part)
               AS target_text
           FROM (SELECT * FROM mp UNION ALL SELECT * FROM st)
           GROUP BY doc_id),
         cn AS (
           SELECT doc_id,
             CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT)
               AS n_masked
           FROM f GROUP BY doc_id),
         ns AS (
           SELECT doc_id, CAST(count(DISTINCT island) AS BIGINT)
               AS n_spans
           FROM m GROUP BY doc_id)
         SELECT d.doc_id,
           coalesce(mt.masked_text, '') AS masked_text,
           coalesce(tt.target_text, '') AS target_text,
           coalesce(cn.n_masked, 0) AS n_masked,
           coalesce(ns.n_spans, 0) AS n_spans
         FROM documents d
           LEFT JOIN mt ON mt.doc_id = d.doc_id
           LEFT JOIN tt ON tt.doc_id = d.doc_id
           LEFT JOIN cn ON cn.doc_id = d.doc_id
           LEFT JOIN ns ON ns.doc_id = d.doc_id
         ORDER BY d.doc_id"""

  /** The winnowing twin, shared by q_winnow (DataFrame path) and
    * q_sql_winnow (SQL front door) — both engines' implementations must
    * converge on this one oracle. */
  private val winnowTwinSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents),
         g AS (SELECT doc_id, i AS gpos,
                 array_to_string(toks[i:i+3], ' ') AS gram
               FROM t, unnest(generate_series(1,
                 greatest(0, length(toks) - 3))) AS s(i)),
         fh AS (SELECT doc_id, gpos,
             list_reduce(
               list_prepend(CAST('14695981039346656037' AS HUGEINT),
                 list_transform(generate_series(1, length(gram)),
                   i -> CAST(ord(substr(gram, i, 1)) AS HUGEINT))),
               (h, b) -> (xor(h, b) * CAST('1099511628211' AS HUGEINT))
                 % CAST('18446744073709551616' AS HUGEINT)) AS hu
           FROM g),
         sh AS MATERIALIZED (SELECT doc_id, gpos,
             CAST(CASE WHEN hu >= CAST('9223372036854775808' AS HUGEINT)
               THEN hu - CAST('18446744073709551616' AS HUGEINT)
               ELSE hu END AS BIGINT) AS hv
           FROM fh),
         m AS (SELECT doc_id, count(*) AS gc FROM sh GROUP BY doc_id),
         win AS (SELECT sh.doc_id,
             min(hv) OVER (PARTITION BY sh.doc_id ORDER BY gpos
               ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp,
             gpos, m.gc AS gc
           FROM sh JOIN m USING (doc_id)),
         sel AS MATERIALIZED (SELECT DISTINCT doc_id, fp FROM win
           WHERE gpos <= greatest(gc - 7, 1)),
         capped AS MATERIALIZED (SELECT doc_id, fp FROM sel
           WHERE fp IN (SELECT fp FROM sel GROUP BY fp
             HAVING count(*) <= 2000))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           count(*) AS shared
         FROM capped a JOIN capped b
           ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 3
         ORDER BY id_a, id_b"""

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

  /** Full O(n²) exact byte-shingle Jaccard twin, shared by the manual-cap
    * (q_dedup_minhash) and auto-gated (q_dedup_autocap) pipelines. */
  private val minhashExactTwinSql: String =
    """WITH grams AS (
         SELECT doc_id,
           list_distinct(list_transform(
             generate_series(1, greatest(length(text) - 4, 0)),
             i -> substr(text, i, 5))) AS gs
         FROM documents),
       pairs AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) /
             (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs)))
             AS jaccard
         FROM grams a JOIN grams b ON a.doc_id < b.doc_id
         WHERE len(a.gs) > 0 AND len(b.gs) > 0)
       SELECT id_a, id_b, jaccard FROM pairs
       WHERE jaccard >= 0.7 ORDER BY id_a, id_b"""

  /** Kneser–Ney bigram-table twin, shared by the DataFrame path
    * (q_kn_lm) and the SQL front door (q_sql_kn_lm). */
  /** The mid-level interpolated term P2(w3|w2) of the trigram scorer
    * twin — used in two CASE branches, so ONE snippet keeps the copies
    * textually identical. */
  private val knTriP2Sql: String =
    """(CASE WHEN x2.cont2 IS NOT NULL THEN
         greatest(CAST(coalesce(md.cont23, 0) AS DOUBLE)
             - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE))
           / CAST(x2.cont2 AS DOUBLE)
         + CAST(0.75 AS DOUBLE) * CAST(x2.nf2 AS DOUBLE)
           / CAST(x2.cont2 AS DOUBLE)
           * (CAST(coalesce(cc.cont3, 0) AS DOUBLE)
             / CAST(bt.b23 AS DOUBLE))
       ELSE CAST(coalesce(cc.cont3, 0) AS DOUBLE)
         / CAST(bt.b23 AS DOUBLE) END)"""

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

  /** KN bigram scorer twin, shared by q_kn_perplexity and the
    * stored-model variant q_kn_score_stored: model CTE at minCount=1
    * (same rounded p_kn), then the seen / context-backoff / OOV-floor
    * chain per scored bigram; DECIMAL(28,6) log-prob sums keep the
    * fold order-independent. */
  private val knPerplexityTwinSql: String =
    """WITH toks AS (SELECT doc_id, source,
             list_filter(string_split(text, ' '), x -> x <> '') AS tk
           FROM documents),
         rbigrams AS (
           SELECT tk[i] AS w1, tk[i + 1] AS w2
           FROM (SELECT tk FROM toks WHERE source <> 'src1'),
             unnest(generate_series(1, len(tk) - 1)) AS t(i)
           WHERE len(tk) > 1),
         bg AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
                FROM rbigrams GROUP BY w1, w2),
         ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c_ctx,
             CAST(count(*) AS BIGINT) AS n_follow FROM bg GROUP BY w1),
         prec AS (SELECT w2, CAST(count(*) AS BIGINT) AS n_prec
                  FROM bg GROUP BY w2),
         types AS (SELECT CAST(count(*) AS BIGINT) AS b_types FROM bg),
         model AS (SELECT bg.w1, bg.w2,
             round(greatest(CAST(bg.c12 AS DOUBLE) - CAST(0.75 AS DOUBLE),
                 CAST(0 AS DOUBLE)) / CAST(ctx.c_ctx AS DOUBLE)
               + CAST(0.75 AS DOUBLE) * CAST(ctx.n_follow AS DOUBLE)
                 / CAST(ctx.c_ctx AS DOUBLE)
                 * (CAST(prec.n_prec AS DOUBLE)
                   / CAST(types.b_types AS DOUBLE)), 6) AS p_kn
           FROM bg JOIN ctx USING (w1) JOIN prec USING (w2)
             CROSS JOIN types),
         sbigrams AS (
           SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
           FROM toks, unnest(generate_series(1, len(tk) - 1)) AS t(i)
           WHERE source = 'src1' AND len(tk) > 1),
         scored AS (SELECT sb.doc_id,
             CAST(round(ln(greatest(
               coalesce(m.p_kn,
                 CASE WHEN c.c_ctx IS NOT NULL
                   THEN CAST(0.75 AS DOUBLE) * CAST(c.n_follow AS DOUBLE)
                     / CAST(c.c_ctx AS DOUBLE)
                     * (CAST(coalesce(p.n_prec, 0) AS DOUBLE)
                       / CAST(t2.b_types AS DOUBLE))
                   ELSE CAST(0 AS DOUBLE) END),
               CAST(1e-7 AS DOUBLE))), 6) AS DECIMAL(28,6)) AS lp
           FROM sbigrams sb
           LEFT JOIN model m ON sb.w1 = m.w1 AND sb.w2 = m.w2
           LEFT JOIN ctx c ON sb.w1 = c.w1
           LEFT JOIN prec p ON sb.w2 = p.w2
           CROSS JOIN types t2),
         agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nb, sum(lp) AS s
                 FROM scored GROUP BY doc_id)
         SELECT d.doc_id, CAST(coalesce(a.nb, 0) AS BIGINT) AS n_bigrams,
           round(exp(-(CAST(a.s AS DOUBLE) / CAST(a.nb AS DOUBLE))), 6)
             AS perplexity
         FROM (SELECT doc_id FROM documents WHERE source = 'src1') d
         LEFT JOIN agg a ON d.doc_id = a.doc_id
         ORDER BY d.doc_id"""

  /** Trigram scorer twin: model CTEs at minCount=1 over the non-src1
    * corpus, then the seen / context-mass / mid-level / base / floor
    * chain per scored trigram, DECIMAL-folded per document. Shared by
    * q_kn_trigram_ppl and the stored-model q_kn_trigram_score_stored. */
  private val knTrigramPplTwinSql: String =
    s"""WITH toks AS (SELECT doc_id, source,
           list_filter(string_split(text, ' '), x -> x <> '') AS tk
         FROM documents),
       rtri AS (
         SELECT tk[i] AS w1, tk[i + 1] AS w2, tk[i + 2] AS w3
         FROM (SELECT tk FROM toks WHERE source <> 'src1'),
           unnest(generate_series(1, len(tk) - 2)) AS t(i)
         WHERE len(tk) > 2),
       tg AS (SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c123
              FROM rtri GROUP BY w1, w2, w3),
       ctx12 AS (SELECT w1, w2, CAST(sum(c123) AS BIGINT) AS c12,
           CAST(count(*) AS BIGINT) AS nf12 FROM tg GROUP BY w1, w2),
       mid AS (SELECT w2, w3, CAST(count(*) AS BIGINT) AS cont23
               FROM tg GROUP BY w2, w3),
       ctx2 AS (SELECT w2, CAST(sum(cont23) AS BIGINT) AS cont2,
           CAST(count(*) AS BIGINT) AS nf2 FROM mid GROUP BY w2),
       c3 AS (SELECT w3, CAST(count(*) AS BIGINT) AS cont3
              FROM mid GROUP BY w3),
       btot AS (SELECT CAST(count(*) AS BIGINT) AS b23 FROM mid),
       model AS (SELECT tg.w1, tg.w2, tg.w3,
           round(greatest(CAST(tg.c123 AS DOUBLE) - CAST(0.75 AS DOUBLE),
               CAST(0 AS DOUBLE)) / CAST(ctx12.c12 AS DOUBLE)
             + CAST(0.75 AS DOUBLE) * CAST(ctx12.nf12 AS DOUBLE)
               / CAST(ctx12.c12 AS DOUBLE)
               * (greatest(CAST(mid.cont23 AS DOUBLE)
                     - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE))
                   / CAST(ctx2.cont2 AS DOUBLE)
                 + CAST(0.75 AS DOUBLE) * CAST(ctx2.nf2 AS DOUBLE)
                   / CAST(ctx2.cont2 AS DOUBLE)
                   * (CAST(c3.cont3 AS DOUBLE)
                     / CAST(btot.b23 AS DOUBLE))), 6) AS p_kn
         FROM tg JOIN ctx12 USING (w1, w2) JOIN mid USING (w2, w3)
           JOIN ctx2 USING (w2) JOIN c3 USING (w3) CROSS JOIN btot),
       stri AS (
         SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2, tk[i + 2] AS w3
         FROM toks, unnest(generate_series(1, len(tk) - 2)) AS t(i)
         WHERE source = 'src1' AND len(tk) > 2),
       scored AS (SELECT st.doc_id,
           CAST(round(ln(greatest(
             CASE WHEN m.p_kn IS NOT NULL THEN m.p_kn
                  WHEN x12.c12 IS NOT NULL THEN
                    CAST(0.75 AS DOUBLE) * CAST(x12.nf12 AS DOUBLE)
                    / CAST(x12.c12 AS DOUBLE) * $knTriP2Sql
                  ELSE $knTriP2Sql END,
             CAST(1e-7 AS DOUBLE))), 6) AS DECIMAL(28,6)) AS lp
         FROM stri st
         LEFT JOIN model m ON st.w1 = m.w1 AND st.w2 = m.w2 AND st.w3 = m.w3
         LEFT JOIN ctx12 x12 ON st.w1 = x12.w1 AND st.w2 = x12.w2
         LEFT JOIN mid md ON st.w2 = md.w2 AND st.w3 = md.w3
         LEFT JOIN ctx2 x2 ON st.w2 = x2.w2
         LEFT JOIN c3 cc ON st.w3 = cc.w3
         CROSS JOIN btot bt),
       agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nt, sum(lp) AS s
               FROM scored GROUP BY doc_id)
       SELECT d.doc_id, CAST(coalesce(a.nt, 0) AS BIGINT) AS n_trigrams,
         round(exp(-(CAST(a.s AS DOUBLE) / CAST(a.nt AS DOUBLE))), 6)
           AS perplexity
       FROM (SELECT doc_id FROM documents WHERE source = 'src1') d
       LEFT JOIN agg a ON d.doc_id = a.doc_id
       ORDER BY d.doc_id"""

  private val knLmTwinSql: String =
    """WITH toks AS (SELECT list_filter(string_split(text, ' '),
           x -> x <> '') AS tk FROM documents),
       bigrams AS (
         SELECT tk[i] AS w1, tk[i + 1] AS w2
         FROM toks, unnest(generate_series(1, len(tk) - 1)) AS t(i)
         WHERE len(tk) > 1),
       bg AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
              FROM bigrams GROUP BY w1, w2),
       ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c_ctx,
           CAST(count(*) AS BIGINT) AS n_follow FROM bg GROUP BY w1),
       prec AS (SELECT w2, CAST(count(*) AS BIGINT) AS n_prec
                FROM bg GROUP BY w2),
       types AS (SELECT CAST(count(*) AS BIGINT) AS b_types FROM bg)
       SELECT bg.w1, bg.w2, bg.c12, ctx.c_ctx, ctx.n_follow, prec.n_prec,
         round(greatest(CAST(bg.c12 AS DOUBLE) - CAST(0.75 AS DOUBLE),
             CAST(0 AS DOUBLE)) / CAST(ctx.c_ctx AS DOUBLE)
           + CAST(0.75 AS DOUBLE) * CAST(ctx.n_follow AS DOUBLE)
             / CAST(ctx.c_ctx AS DOUBLE)
             * (CAST(prec.n_prec AS DOUBLE) / CAST(types.b_types AS DOUBLE)),
           6) AS p_kn,
         types.b_types, CAST(0.75 AS DOUBLE) AS discount
       FROM bg JOIN ctx USING (w1) JOIN prec USING (w2) CROSS JOIN types
       WHERE bg.c12 >= 5
       ORDER BY w1, w2"""

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

  /** The quality-screen signal expressions (token count, punct ratio,
    * word-repetition) in DuckDB SQL — ONE definition shared by the
    * q_quality_filter and q_curation_report twins so the two screens'
    * signals can never drift. NOTE (known, inherited domain bound): the
    * RE2 '\\S'/length() semantics here match TextStatsKernel only on
    * text without U+000B or non-BMP characters — true of the driver
    * corpus; a Unicode-wild corpus would need the kernel's charset
    * replayed explicitly (same bound as every TextStats twin). */
  private val qualitySignalsSql: String =
    """length(regexp_extract_all(text, '\S+')) AS n_tokens,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST(length(regexp_replace(text,
                         '[^.,;:!?''"()\[\]{}-]', '', 'g')) AS DOUBLE)
                       / CAST(length(text) AS DOUBLE) END AS punct_ratio,
             CASE WHEN len(list_filter(regexp_split_to_array(text, '\s+'),
                            x -> x <> '')) = 0 THEN 0.0
                  ELSE 1.0 - CAST(len(list_distinct(list_filter(
                         regexp_split_to_array(text, '\s+'), x -> x <> '')))
                       AS DOUBLE)
                       / CAST(len(list_filter(regexp_split_to_array(text,
                           '\s+'), x -> x <> '')) AS DOUBLE) END AS rep"""

  /** Quality-screen thresholds, shared by q_quality_filter and
    * q_curation_report on both the engine and oracle sides. */
  private val QfMinTokens = 5L
  private val QfMaxTokens = 2000L
  private val QfMaxPunct = 0.3
  private val QfMaxRep = 0.6

  /** The curated banned-term list, shared by q_blocklist and
    * q_curation_report on BOTH the engine and oracle sides — one
    * source of truth so the two screens' "blocklisted" populations can
    * never drift apart. */
  private val blocklistTerms: Seq[String] = Seq("slow", "error", "leak")
  /** SQL-literal rendering of the list, quote-escaped: a future term
    * containing an apostrophe must render as a valid literal in both
    * dialects, not inject broken SQL into the twins. */
  private def blocklistTermsSql: String =
    blocklistTerms.map(t => "'" + t.replace("'", "''") + "'").mkString(", ")

  /** The same two-limb Knuth hash in SPARK SQL dialect (`div` for
    * integer division; inputs are nonnegative so `%` == pmod) — used by
    * the §2.6 front-door twins of the hash-masked transforms. One body
    * shared with [[hash32Sql]] so the two dialects can never drift. */
  private def hash32SqlDialect(x: String, intDiv: String): String =
    s"(((($x) % 4294967296) % 65536) * 2654435761" +
      s" + ((((($x) % 4294967296) $intDiv 65536) * 2654435761) % 65536)" +
      " * 65536) % 4294967296"

  private def hash32SparkSql(x: String): String =
    hash32SqlDialect(x, "div")

  /** The width-safe two-limb Knuth hash (Profile.hash32) over an SQL
    * expression — every intermediate < 1.8e14, identical in any engine.
    * DuckDB dialect of [[hash32SqlDialect]] (`//` integer division). */
  private def hash32Sql(x: String): String =
    hash32SqlDialect(x, "//")

  private def simhashBitsCte: String =
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
  private def pow2Values: String =
    (0 until 64).map(b => s"($b, CAST('${BigInt(1) << b}' AS HUGEINT))")
      .mkString(", ")

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

  /** Subword piece vocabulary for q_tokenize — a few frequent digraphs/
    * trigraphs plus every lowercase letter (full fallback coverage for
    * this corpus's alphabetic tokens). Shared verbatim with the twin. */
  private val subwordVocab: Seq[String] =
    Seq("the", "ing", "er", "on", "ti", "an", "or", "en", "ar", "st") ++
      ('a' to 'z').map(_.toString)

  /** 16-bit Morton interleave as plain shift/mask arithmetic — the DuckDB
    * twin of the native ZOrder2 kernel (even bits from x, odd from y). */
  private def mortonSql16(x: String, y: String): String =
    (0 until 16).map { i =>
      s"(((($x) >> $i) & 1) << ${2 * i}) + (((($y) >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")

  /** Shared DuckDB CTE prefix twinning the deterministic k-means path:
    * lowest-id seeds, one Lloyd iteration with the ordered-fold mean, and
    * the final nearest-centroid assignment (`a1`: vec_id, v, cid). Used by
    * the IVF twins (probe + top-k on top) and the SemDeDup twin
    * (within-cluster pair enumeration on top). ONE text with
    * [[kmeansAssignBaseCtes]] (base filter TRUE = train on everything) so
    * a future oracle tweak cannot silently diverge the siblings. */
  private lazy val kmeansAssignCtes: String = kmeansAssignBaseCtes("TRUE")

  /** [[kmeansAssignCtes]] variant for the INCREMENTAL path: the k-means
    * training chain (seeds, one Lloyd iteration) runs over the BASE
    * subset only (`baseWhere`), but the final assignment `a1` covers the
    * FULL corpus — exactly what assign-new-batch-to-frozen-centroids
    * computes, since per-row assignment is independent of which store
    * file the row lands in. */
  private def kmeansAssignBaseCtes(baseWhere: String): String =
    kmeansAssignCorpusCtes(baseWhere, "TRUE")

  /** [[kmeansAssignBaseCtes]] with the final assignment `a1` ALSO
    * restricted, to `corpusWhere` — the drift-audit stage shape: train on
    * the resident base, assign only the vectors that exist at a given
    * append stage (the inner alias shadows `e`, so a1's text is
    * unchanged). One body for all three k-means twin variants. */
  private def kmeansAssignCorpusCtes(baseWhere: String,
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
  private def ivfProbeSuffix(nQueries: Int): String = s""",
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

  /** Full twin of q_pagerank: the same synthetic 2-out-edge graph, then
    * `iters` power-iteration stages generated as sequential CTEs. Every
    * double expression is cast-shaped to match the engine exactly —
    * DuckDB's bare `1.0 - 0.85` is DECIMAL arithmetic (exact 0.15), the
    * engine's is IEEE (0.15000000000000002), so literals are CAST to
    * DOUBLE before any op; per-dst sums replay the engine's ordered fold
    * via list_reduce over list(c ORDER BY src, c) prepended with 0.0. */
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

  /** Twin of the streaming CDC pipeline (q_cdc_stream): replays the same
    * three version-ordered change epochs SEQUENTIALLY over the seeded
    * customer snapshot — latest change per key within an epoch, merged
    * with partial-update + delete semantics, each epoch reading the
    * previous epoch's state. Epoch boundaries must match the date cuts
    * in the Spark query exactly. */
  private val cdcStreamTwin: String = {
    val epochs = Seq(
      "o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'",
      "o_orderdate >= TIMESTAMP '1998-01-01 00:00:00' AND " +
        "o_orderdate < TIMESTAMP '2000-01-01 00:00:00'",
      "o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'")
    val steps = epochs.zipWithIndex.map { case (pred, i) =>
      val n = i + 1
      s"""l$n AS (
           SELECT o_custkey AS k, o_totalprice AS new_bal,
                  (o_orderstatus = 'P') AS del
           FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
                 FROM orders WHERE $pred)
           WHERE rn = 1),
         s$n AS (
           SELECT COALESCE(b.c_custkey, l.k) AS c_custkey,
                  b.c_name AS c_name,
                  b.c_mktsegment AS c_mktsegment,
                  CASE WHEN l.k IS NOT NULL
                       THEN COALESCE(l.new_bal, b.c_acctbal)
                       ELSE b.c_acctbal END AS c_acctbal
           FROM s${i} b FULL OUTER JOIN l$n l ON b.c_custkey = l.k
           WHERE l.k IS NULL OR NOT l.del)"""
    }
    s"""WITH s0 AS (
           SELECT c_custkey, c_name, c_mktsegment, c_acctbal
           FROM customer WHERE c_custkey % 7 <> 0),
         ${steps.mkString(",\n         ")}
         SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM s3
         ORDER BY c_custkey"""
  }

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

  /** Shared DuckDB CTE prefix recomputing the full TextStats quality
    * heuristic (tokenization, char/punct/stopword counts, ratios, quality
    * score, language argmax) — ends at CTE `q`. Used by q_text_quality
    * (adds the rolling-FNV fingerprint) and q_curate (adds per-source
    * quality ranking). */
  private val qualityCtes: String =
    """WITH toks AS (
           SELECT doc_id, text,
             list_filter(regexp_split_to_array(text, '[ \t\n\v\f\r]+'),
               x -> x <> '') AS tk
           FROM documents),
         base AS (
           SELECT doc_id, text, tk,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len(tk) AS BIGINT) AS n_tokens,
             CAST(length(regexp_replace(text, '[ \t\n\v\f\r]', '', 'g'))
               AS BIGINT) AS n_nonws,
             CAST(length(regexp_replace(text, '[^.,;:!?''"()\[\]{}-]', '', 'g'))
               AS BIGINT) AS n_punct,
             CAST(len(list_filter(tk, t -> lower(t) IN ('the','a','an','of',
               'and','or','to','in','is','are','was','were','be','on','for',
               'with','as','at','by','it','this','that'))) AS BIGINT) AS stop_hits,
             CAST(len(list_filter(tk, t -> lower(t) IN ('der','die','das',
               'und','ist','nicht','mit','ein','eine','zu','von'))) AS BIGINT) AS h_de,
             CAST(len(list_filter(tk, t -> lower(t) IN ('the','and','is',
               'of','to','in','that','it','with','for'))) AS BIGINT) AS h_en,
             CAST(len(list_filter(tk, t -> lower(t) IN ('el','la','los',
               'las','de','que','y','es','en','un','una','por'))) AS BIGINT) AS h_es,
             CAST(len(list_filter(tk, t -> lower(t) IN ('le','la','les',
               'de','et','est','que','dans','pour','une','des'))) AS BIGINT) AS h_fr,
             CAST(length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g'))
               AS BIGINT) AS h_zh
           FROM toks),
         m AS (
           SELECT *,
             CASE WHEN n_tokens = 0 THEN 0.0
               ELSE CAST(n_nonws AS DOUBLE) / n_tokens END AS mean_tok_len,
             CASE WHEN n_chars = 0 THEN 0.0
               ELSE CAST(n_punct AS DOUBLE) / n_chars END AS punct_ratio,
             CASE WHEN n_tokens = 0 THEN 0.0
               ELSE CAST(stop_hits AS DOUBLE) / n_tokens END AS stopword_ratio
           FROM base),
         q AS (
           SELECT *,
             (least(CAST(n_chars AS DOUBLE) / 200.0, 1.0) * 0.4
              + least(stopword_ratio * 4.0, 1.0) * 0.3
              + (CASE WHEN mean_tok_len >= 3.0 AND mean_tok_len <= 10.0
                  THEN 1.0 ELSE 0.5 END) * 0.3)
             * (CASE WHEN punct_ratio > 0.2 THEN 0.5 ELSE 1.0 END) AS quality,
             CASE
               WHEN greatest(h_de, h_en, h_es, h_fr, h_zh) = 0 THEN 'und'
               WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr
                 AND h_de >= h_zh THEN 'de'
               WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_zh THEN 'en'
               WHEN h_es >= h_fr AND h_es >= h_zh THEN 'es'
               WHEN h_fr >= h_zh THEN 'fr'
               ELSE 'zh'
             END AS lang_pred
           FROM m)"""

  def oracleSql: Map[String, String] = Map(
    "q_scan" ->
      "SELECT * FROM nation ORDER BY n_nationkey",

    // ground truth recomputed from parquet: the roundtrip must be lossless
    // join-driven year restriction recomputed from the base table
    "q_dpp" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
             AS total
         FROM orders
         WHERE year(o_orderdate) IN (1995, 1996)
         GROUP BY 1 ORDER BY 1""",

    // union-by-name ground truth: pre-drift rows null-fill the added
    // column
    "q_merge_schema" ->
      """SELECT n_nationkey, n_name,
           CASE WHEN n_nationkey >= 12 THEN n_regionkey END AS region_added
         FROM nation ORDER BY n_nationkey""",

    // ground truth from the parquet base table — the ORC roundtrip must
    // preserve every value (including the double s_acctbal) bit-for-bit
    "q_orc_roundtrip" ->
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
         FROM supplier ORDER BY s_suppkey""",

    // lossless compaction: aggregate over the compacted copy equals the
    // base table; `compacted` is structurally true (see query comment)
    "q_compact" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(22,2))) AS DOUBLE)
             AS sum_price,
           true AS compacted
         FROM orders GROUP BY 1 ORDER BY 1""",

    // every 5th nation row was written unparsable; both sides recomputed
    // (region_sum is NULL for the corrupt group — the field failed parse)
    "q_csv_badrecords" ->
      """SELECT (n_nationkey % 5 = 0) AS is_corrupt,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
           CAST(sum(CASE WHEN n_nationkey % 5 <> 0 THEN n_regionkey END)
             AS BIGINT) AS region_sum
         FROM nation GROUP BY 1 ORDER BY is_corrupt""",

    // BIGINT cast matches the explicit LongType read schema on the
    // engine side (JSON numbers surface as long)
    "q_json_roundtrip" ->
      """SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name
         FROM region ORDER BY r_regionkey""",

    "q_csv_roundtrip" ->
      """SELECT n_nationkey, n_name, n_regionkey,
           'a,"b" ,' || n_name || ';c' AS tricky
         FROM nation ORDER BY n_nationkey""",

    // a foreign parser over the engine-written bytes must see the same
    // values — here over the PIPE-delimited writer config
    "q_csv_interchange" ->
      """SELECT * FROM read_csv('/tmp/graft_csv_interchange/*.csv',
           header=true, delim='|', quote='"', escape='"',
           columns={'n_nationkey':'INTEGER','n_name':'VARCHAR',
                    'n_regionkey':'INTEGER','tricky':'VARCHAR'})
         ORDER BY n_nationkey""",

    // ground truth from the base table: the pruned partitioned read must
    // see exactly the year-1995 rows
    "q_partitioned_scan" ->
      """SELECT o_orderstatus,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust
         FROM orders WHERE year(o_orderdate) = 1995
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
             AS sum_total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "q_projection" ->
      """SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1.0 - l_discount) AS net_price,
           l_quantity + l_tax AS qty_plus_tax,
           l_extendedprice - l_discount AS price_minus_disc,
           l_extendedprice / (l_quantity + 1.0) AS unit_price
         FROM lineitem ORDER BY l_orderkey, l_linenumber, net_price,
           qty_plus_tax, price_minus_disc, unit_price""",

    "q_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount
         FROM lineitem
         WHERE ((l_quantity > 30.0 AND l_discount <= 0.05)
             OR (l_quantity + l_tax < 5.0 AND l_returnflag = 'R'))
           AND l_linestatus <> 'X'
           AND l_extendedprice * 0.9 >= 100.0
           AND l_extendedprice - l_discount < 99000.0
           AND l_extendedprice / 2.0 >= 50.0
           AND l_partkey < 100000
         ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount""",

    "q_limit" ->
      """SELECT l_orderkey, l_linenumber FROM lineitem
         ORDER BY l_orderkey, l_linenumber LIMIT 100""",

    "q_offset" ->
      """SELECT l_orderkey, l_linenumber FROM lineitem
         ORDER BY l_orderkey, l_linenumber LIMIT 100 OFFSET 50""",

    "q_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
         ORDER BY l_returnflag, l_linestatus""",

    "q_sort" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
         ORDER BY o_orderstatus ASC, o_totalprice DESC, o_orderkey ASC""",

    "q_agg_nogroup" ->
      """SELECT count(*) AS cnt_all,
           count(l_quantity) AS cnt_qty,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(l_quantity) AS avg_qty,
           min(l_quantity) AS min_qty,
           max(l_quantity) AS max_qty,
           min(l_returnflag) AS min_flag,
           max(l_returnflag) AS max_flag
         FROM lineitem""",

    "q_agg_group" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(l_quantity) AS avg_qty,
           count(*) AS cnt
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",

    "q_agg_nulls" ->
      """SELECT count(*) AS cnt_all,
           count(nullif(l_returnflag, 'R')) AS cnt_flag,
           count(nullif(l_quantity, 17.0)) AS cnt_qty,
           CAST(sum(CAST(nullif(l_quantity, 17.0) AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           min(nullif(l_quantity, 17.0)) AS min_qty,
           max(nullif(l_returnflag, 'R')) AS max_flag
         FROM lineitem""",

    "q_join_inner" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "q_join_left" ->
      """SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_total
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey, c_name ORDER BY c_custkey""",

    "q_join_left_rows" ->
      """SELECT c_custkey, o_orderkey, o_totalprice
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         ORDER BY c_custkey ASC, o_orderkey ASC NULLS FIRST""",

    "q_join_fanout" ->
      """SELECT l_orderkey, l_linenumber, o_orderstatus, o_totalprice
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         ORDER BY l_orderkey, l_linenumber, o_orderstatus, o_totalprice""",

    "q_join_residual" ->
      """SELECT l_orderkey, l_linenumber, o_totalprice
         FROM lineitem JOIN orders
           ON l_orderkey = o_orderkey AND l_extendedprice > o_totalprice * 0.5
         ORDER BY l_orderkey, l_linenumber, o_totalprice""",

    "q_cross_theta" ->
      """SELECT r_name, n_name FROM region, nation
         WHERE r_regionkey < n_regionkey ORDER BY r_name, n_name""",

    "q_sql" ->
      """SELECT n.n_name, count(*) AS n_customers,
           CAST(sum(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_acctbal
         FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
         WHERE c.c_acctbal > 100.0
         GROUP BY n.n_name ORDER BY n.n_name""",

    "q_mjoin_topk" ->
      """SELECT o_orderkey,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE c_mktsegment = 'BUILDING'
         GROUP BY o_orderkey, o_orderdate
         ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""",

    "q_mjoin_nation" ->
      """SELECT n_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
           count(*) AS n_lines
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY n_name ORDER BY n_name""",

    "q_union" ->
      """SELECT c_custkey AS k FROM customer
         UNION SELECT o_custkey AS k FROM orders ORDER BY k""",
    "q_intersect" ->
      """SELECT c_custkey AS k FROM customer
         INTERSECT SELECT o_custkey AS k FROM orders ORDER BY k""",
    "q_except" ->
      """SELECT c_custkey AS k FROM customer
         EXCEPT SELECT o_custkey AS k FROM orders ORDER BY k""",

    "q_window_rank" ->
      """SELECT * FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rn
           FROM orders) t
         WHERE rn <= 3 ORDER BY o_custkey, rn""",

    "q_window_running" ->
      """SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_total
         FROM orders ORDER BY o_custkey, o_orderkey""",

    "q_window_distinct" ->
      """SELECT user_id, event_id,
           count(DISTINCT event_type) OVER (
             PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_types
         FROM events ORDER BY user_id, event_id""",

    "q_string_funcs" ->
      """SELECT n_nationkey,
           upper(n_name) AS uname,
           lower(n_name) AS lname,
           substr(n_name, 1, 3) AS prefix3,
           CAST(length(n_name) AS INTEGER) AS name_len,
           n_name || '_' || CAST(n_regionkey AS VARCHAR) AS tagged,
           ltrim(rtrim(n_name)) AS trimmed
         FROM nation ORDER BY n_nationkey""",

    "q_date_funcs" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
           CAST(month(o_orderdate) AS INTEGER) AS mo,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
         FROM orders GROUP BY 1, 2 ORDER BY yr, mo""",

    "q_case_when" ->
      """SELECT CASE WHEN l_quantity < 10 THEN 'low'
                WHEN l_quantity < 30 THEN 'mid'
                ELSE 'high' END AS bucket,
           count(*) AS n,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total
         FROM lineitem GROUP BY 1 ORDER BY bucket""",

    "q_predicates" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
         WHERE o_orderstatus IN ('F','O')
           AND o_totalprice BETWEEN 1000.0 AND 50000.0
           AND o_orderpriority LIKE '%1%'
           AND o_orderdate IS NOT NULL
         ORDER BY o_orderkey""",

    "q_agg_distinct" ->
      """SELECT l_returnflag,
           count(DISTINCT l_orderkey) AS n_orders,
           count(DISTINCT l_partkey) AS n_parts,
           count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q_pivot" ->
      """SELECT l_returnflag,
           count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS "F",
           count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS "O"
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q_nullsafe_eq" ->
      """SELECT nullif(l_returnflag, 'N') IS NOT DISTINCT FROM nullif(l_linestatus, 'O')
             AS both_null_or_equal,
           count(*) AS n
         FROM lineitem GROUP BY 1 ORDER BY both_null_or_equal""",

    "q_percentile" ->
      """SELECT o_orderpriority,
           quantile_cont(o_totalprice, 0.5) AS p50,
           quantile_cont(o_totalprice, 0.9) AS p90,
           count(*) AS n
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    // rank window replay; ties at the cut are value-equal so the kept
    // multiset (and the DECIMAL sum) is deterministic
    "q_trimmed_mean" ->
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
         FROM f GROUP BY 1 ORDER BY 1""",

    "q_deciles" ->
      """WITH r AS (SELECT o_totalprice AS v,
             CAST(row_number() OVER (ORDER BY o_totalprice) AS BIGINT)
               AS rn,
             CAST(count(*) OVER () AS BIGINT) AS n
           FROM orders)
         SELECT CAST(((rn - 1) * 10) // n AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n_rows, min(v) AS lo, max(v) AS hi,
           CAST(sum(CAST(v AS DECIMAL(22,2))) AS DOUBLE) AS sum_price
         FROM r GROUP BY 1 ORDER BY 1""",

    // Sketch twins: the engine-specific estimate never enters the hash —
    // the twin recomputes the exact side and expects within_bound = true
    // (the engine computed the boolean in-query against its own sketch).
    "q_approx_percentile" ->
      """SELECT o_orderpriority,
           quantile_cont(o_totalprice, 0.5) AS p50_exact,
           count(*) AS n,
           true AS within_bound
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q_approx_distinct" ->
      """SELECT l_returnflag,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           true AS within_bound
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q_json" ->
      """SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
         FROM events ORDER BY event_id""",

    "q_from_json" ->
      """SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
         FROM events ORDER BY event_id""",

    "q_map_funcs" ->
      """SELECT n_nationkey,
           map(['nation', 'region'],
               [CAST(n_nationkey AS BIGINT), CAST(n_regionkey AS BIGINT)])
             ['region'][1] AS region_val,
           CAST(cardinality(map(['nation', 'region'],
               [CAST(n_nationkey AS BIGINT), CAST(n_regionkey AS BIGINT)]))
             AS INTEGER) AS m_size
         FROM nation ORDER BY n_nationkey""",

    "q_array_funcs" ->
      """SELECT o_custkey,
           array_to_string(list_sort(list_distinct(list(CAST(year(o_orderdate) AS INTEGER)))), ',') AS yrs_csv,
           CAST(length(list_sort(list_distinct(list(CAST(year(o_orderdate) AS INTEGER))))) AS INTEGER) AS n_yrs,
           CAST(list_sort(list_distinct(list(CAST(year(o_orderdate) AS INTEGER))))[1] AS INTEGER) AS first_yr
         FROM orders GROUP BY o_custkey ORDER BY o_custkey""",

    "q_regex" ->
      """SELECT doc_id,
           regexp_extract(text, '^(\S+)', 1) AS first_tok,
           regexp_replace(substr(text, 1, 40), '[aeiou]', '_', 'g') AS masked
         FROM documents ORDER BY doc_id""",

    "q_events_hourly" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
           event_type, count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""",

    "q_interval_join" ->
      """SELECT c.user_id, c.event_id AS l_id, v.event_id AS r_id,
           CAST(c.ts AS TIMESTAMP) AS l_ts, CAST(v.ts AS TIMESTAMP) AS r_ts
         FROM events c JOIN events v
           ON c.user_id = v.user_id
          AND CAST(v.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
          AND CAST(v.ts AS TIMESTAMP)
              <= CAST(c.ts AS TIMESTAMP) + INTERVAL 10 MINUTE
         WHERE c.event_type = 'click' AND v.event_type = 'view'
         ORDER BY c.user_id, l_id, r_id""",

    "q_normalize" ->
      """SELECT doc_id,
           strip_accents(lower(translate(substr(text, 1, 30), 'ae', '\u00e4\u00e9')))
             AS normalized
         FROM documents ORDER BY doc_id""",

    "q_session_window" ->
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
         ORDER BY user_id, session_start_ms""",

    "q_sessionize" ->
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
         ORDER BY user_id, session_start_ms""",

    "q_text_stats" ->
      """SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(length(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
           CAST(length(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_subwords,
           CASE WHEN length(regexp_extract_all(text, '\S+')) = 0 THEN 0.0
                ELSE CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
                     / CAST(length(regexp_extract_all(text, '\S+')) AS DOUBLE) END
             AS mean_token_len,
           CASE WHEN length(text) = 0 THEN 0.0
                ELSE CAST(length(regexp_replace(text, '[^.,;:!?''"()\[\]{}-]', '', 'g')) AS DOUBLE)
                     / CAST(length(text) AS DOUBLE) END AS punct_ratio
         FROM documents ORDER BY doc_id""",

    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
         ORDER BY c_custkey""",

    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
         ORDER BY c_custkey""",

    "q_join_full" ->
      """SELECT coalesce(a.ka, b.kb) AS k, a.n_big, b.n_pri
         FROM (SELECT o_custkey AS ka, count(*) AS n_big FROM orders
               WHERE o_totalprice > 400000.0 GROUP BY 1) a
         FULL JOIN (SELECT o_custkey AS kb, count(*) AS n_pri FROM orders
               WHERE o_orderpriority LIKE '%1%' GROUP BY 1) b
           ON a.ka = b.kb
         ORDER BY k""",

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",

    "q_having" ->
      """SELECT o_custkey, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
         FROM orders GROUP BY o_custkey HAVING count(*) >= 18
         ORDER BY o_custkey""",

    "q_subquery_scalar" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_totalprice > 1.9 * (
           SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / count(*)
           FROM orders)
         ORDER BY o_orderkey""",

    "q_subquery_exists" ->
      """SELECT p_partkey, p_name FROM part
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_partkey = p_partkey AND l_quantity > 49.0)
         ORDER BY p_partkey""",

    "q_tpch_q17" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                  / 7.0 AS avg_yearly,
                count(*) AS n_small
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE p_brand = 'Brand#23'
           AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                             FROM lineitem l2
                             WHERE l2.l_partkey = p_partkey)""",

    "q_tpch_q20" ->
      """SELECT s_suppkey, s_name FROM supplier
         WHERE s_suppkey IN (
           SELECT l1.l_suppkey FROM lineitem l1
           WHERE l1.l_partkey IN (SELECT p_partkey FROM part
                                  WHERE p_name LIKE 'red gear%')
             AND l1.l_quantity > (SELECT 1.95 * avg(l2.l_quantity)
                                  FROM lineitem l2
                                  WHERE l2.l_partkey = l1.l_partkey))
         ORDER BY s_suppkey""",

    "q_tpch_q21" ->
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
         LIMIT 100""",

    "q_tpch_q2" ->
      """SELECT DISTINCT p_partkey, s_name, l_extendedprice AS min_price
         FROM part, supplier, lineitem, nation, region
         WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
           AND p_size = 15
           AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
           AND r_name = 'EUROPE'
           AND l_extendedprice = (SELECT min(l2.l_extendedprice)
                                  FROM lineitem l2
                                  WHERE l2.l_partkey = p_partkey)
         ORDER BY p_partkey, s_name""",

    "q_tpch_q15" ->
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
         ORDER BY s_suppkey""",

    "q_tpch_q22" ->
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
         ORDER BY n_name""",

    "q_tpch_q12" ->
      """SELECT l_linestatus,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                              THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                              THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
           AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
         GROUP BY l_linestatus
         ORDER BY l_linestatus""",

    "q_tpch_q14" ->
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
           AND l_shipdate <  TIMESTAMP '1995-10-01 00:00:00'""",

    "q_tpch_q18" ->
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
         LIMIT 100""",

    "q_tpch_q19" ->
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
                AND l_quantity BETWEEN 20 AND 30)""",

    "q_tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey
                         AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority""",

    "q_tpch_q7" ->
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
         ORDER BY supp_nation, cust_nation, l_year""",

    "q_tpch_q8" ->
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
         GROUP BY o_year ORDER BY o_year""",

    "q_tpch_q6" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                         * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE)
                  AS revenue,
                count(*) AS n_lines
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
           AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
           AND l_discount BETWEEN 0.05 AND 0.07
           AND l_quantity < 24""",

    "q_tpch_q13" ->
      """SELECT c_count, count(*) AS custdist
         FROM (SELECT c_custkey, count(o_orderkey) AS c_count
               FROM customer LEFT JOIN orders
                 ON c_custkey = o_custkey
                 AND o_orderpriority <> '1-URGENT'
               GROUP BY c_custkey) c_orders
         GROUP BY c_count
         ORDER BY custdist DESC, c_count DESC""",

    "q_tpch_q10" ->
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
         LIMIT 20""",

    "q_tpch_q3" ->
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
         LIMIT 10""",

    "q_tpch_q5" ->
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
         ORDER BY revenue DESC, n_name""",

    "q_tpch_q9" ->
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
         ORDER BY nation, o_year DESC""",

    "q_tpch_q11" ->
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
         ORDER BY value DESC, ps_partkey""",

    "q_tpch_q16" ->
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
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",

    "q_asof" ->
      """SELECT c.event_id, c.user_id, p.p_event_id, p.p_value
         FROM (SELECT event_id, ts, user_id FROM events
               WHERE event_type = 'click') c
         ASOF LEFT JOIN (SELECT user_id AS pu, ts AS pts,
                 event_id AS p_event_id, value AS p_value FROM events
               WHERE event_type = 'purchase') p
           ON c.user_id = p.pu AND c.ts >= p.pts
         ORDER BY c.event_id""",

    "q_profile" ->
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
         ORDER BY "column" """,

    // width-safe two-limb Knuth hash (see Profile.hashBucket100): every
    // intermediate < 1.8e14, so no engine-dependent 64-bit wrap for any id
    "q_split" ->
      """SELECT CASE WHEN (
             ((o_orderkey % 4294967296) % 65536) * 2654435761
             + ((((o_orderkey % 4294967296) // 65536) * 2654435761) % 65536) * 65536
           ) % 4294967296 % 100 < 80
             THEN 'train' ELSE 'eval' END AS split,
           count(*) AS n
         FROM orders GROUP BY 1 ORDER BY split""",

    // same null semantics as the engine checks: a null predicate is a
    // violation (CASE null -> ELSE branch); violations cast to BIGINT
    "q_expectations" ->
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
         ORDER BY "check" """,

    "q_table_diff" ->
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
         ORDER BY o_orderkey""",

    // the full recompute the incremental merge must equal
    "q_incremental_agg" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(22,2))) AS DOUBLE) AS sum_price,
           count(l_extendedprice) AS n,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(22,2))) AS DOUBLE)
             / count(l_extendedprice) AS avg_price
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",

    // q_dedup_survivors' recursive-CTE component labeling + the q_split
    // two-limb hash, applied to the COMPONENT label
    "q_split_leakage_safe" ->
      """WITH RECURSIVE toks AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[ \n\t\r]+'),
               x -> x <> '') AS tk
           FROM documents),
         grams AS (
           SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(tk) - 2, 0)),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS gs
           FROM toks),
         edges AS (
           SELECT a.doc_id AS src, b.doc_id AS dst
           FROM grams a JOIN grams b ON a.doc_id < b.doc_id
           WHERE len(a.gs) > 0 AND len(b.gs) > 0
             AND CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) /
               (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs)))
               >= 0.5),
         bi AS (SELECT src, dst FROM edges
                UNION SELECT dst, src FROM edges),
         reach(id, label) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT b.dst, r.label FROM reach r JOIN bi b ON b.src = r.id),
         comp AS (SELECT id, min(label) AS component FROM reach GROUP BY id)
         SELECT d.doc_id, c.component,
           CASE WHEN (
               ((c.component % 4294967296) % 65536) * 2654435761
               + ((((c.component % 4294967296) // 65536) * 2654435761) % 65536) * 65536
             ) % 4294967296 % 100 < 80
             THEN 'train' ELSE 'eval' END AS split
         FROM documents d JOIN comp c ON d.doc_id = c.id
         ORDER BY d.doc_id""",

    "q_bpe_train" -> bpeTwin(6),
    "q_bpe_encode" -> bpeEncodeTwin(6),
    "q_perceptron_train" -> perceptronTwin(3),

    // decayed sum replayed with BIGINT shifts; the engine's
    // otherwise(0) sum can never be NULL, so the twin coalesces
    "q_decay" ->
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
         GROUP BY user_id ORDER BY user_id""",

    // string grams mirror the fingerprint kernel's distinct word
    // 3-grams; first-occurrence = min doc_id, one quotient per row
    "q_novelty" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[ \n\t\r]+'),
               x -> x <> '') AS tk
           FROM documents),
         grams AS (
           SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(tk) - 2, 0)),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS gram
           FROM toks),
         f AS (SELECT gram, min(doc_id) AS first_doc FROM grams GROUP BY 1),
         p AS (SELECT g.doc_id, count(*) AS total_grams,
             sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
               AS novel_grams
           FROM grams g JOIN f USING (gram) GROUP BY 1)
         SELECT d.doc_id,
           CAST(coalesce(p.total_grams, 0) AS BIGINT) AS total_grams,
           CAST(coalesce(p.novel_grams, 0) AS BIGINT) AS novel_grams,
           CASE WHEN coalesce(p.total_grams, 0) = 0 THEN 0.0
                ELSE CAST(p.novel_grams AS DOUBLE)
                     / CAST(p.total_grams AS DOUBLE) END AS novelty
         FROM documents d LEFT JOIN p USING (doc_id)
         ORDER BY d.doc_id""",

    // all-integer Borda fusion: per-lang row_number ranks (value DESC,
    // doc_id ASC), integer-division density, top-5 by rank sum
    "q_rank_ensemble" ->
      """WITH base AS (
           SELECT lang, doc_id,
             CAST(n_chars AS BIGINT) AS s_chars,
             CAST(length(regexp_extract_all(text, '\S+')) AS BIGINT)
               AS s_tokens
           FROM documents),
         sig AS (
           SELECT lang, doc_id, s_chars, s_tokens,
             CAST(s_chars * 1000 // greatest(s_tokens, 1) AS BIGINT)
               AS s_density
           FROM base),
         r AS (
           SELECT lang, doc_id, s_chars, s_tokens, s_density,
             CAST(row_number() OVER (PARTITION BY lang
               ORDER BY s_chars DESC, doc_id) AS BIGINT) AS rank_s_chars,
             CAST(row_number() OVER (PARTITION BY lang
               ORDER BY s_tokens DESC, doc_id) AS BIGINT) AS rank_s_tokens,
             CAST(row_number() OVER (PARTITION BY lang
               ORDER BY s_density DESC, doc_id) AS BIGINT) AS rank_s_density
           FROM sig),
         b AS (
           SELECT lang, doc_id, rank_s_chars, rank_s_tokens, rank_s_density,
             rank_s_chars + rank_s_tokens + rank_s_density AS borda
           FROM r),
         t AS (
           SELECT *, CAST(row_number() OVER (PARTITION BY lang
             ORDER BY borda, doc_id) AS BIGINT) AS final_rank
           FROM b)
         SELECT lang, doc_id, rank_s_chars, rank_s_tokens, rank_s_density,
           borda, final_rank
         FROM t WHERE final_rank <= 5 ORDER BY lang, final_rank""",

    // the kernel's exact 4-stage chain: script/style elements, tags,
    // entities (&amp; last), whitespace collapse
    "q_html_extract" ->
      """WITH h AS (
           SELECT doc_id,
             '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
             '</title><style type="text/css">body { color: #fff; }' ||
             '</style></head><body><h1>Doc &amp; ' ||
             CAST(doc_id AS VARCHAR) ||
             '</h1><script>var x = 1 < 2 && 3 > 2;</script>' ||
             '<p class="main">' || text ||
             '</p><span>&lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end' ||
             '</span>' ||
             CASE WHEN doc_id % 7 = 0 THEN '<script>unclosed' ELSE '' END ||
             '</body></html>' AS html
           FROM documents),
         s1 AS (SELECT doc_id, regexp_replace(html,
             '<script[^>]*>.*?</script>', ' ', 'gis') AS x FROM h),
         s2 AS (SELECT doc_id, regexp_replace(x,
             '<style[^>]*>.*?</style>', ' ', 'gis') AS x FROM s1),
         s3 AS (SELECT doc_id, regexp_replace(x, '<[^>]*>', ' ', 'g') AS x
           FROM s2),
         s4 AS (SELECT doc_id,
             replace(replace(replace(replace(replace(replace(x,
               '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
               '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS x
           FROM s3)
         SELECT doc_id, trim(regexp_replace(x, '[ \n\t\r]+', ' ', 'g'))
           AS extracted
         FROM s4 ORDER BY doc_id""",

    // identical expression tree: (p + z²/2n − z·sqrt((p(1−p)+z²/4n)/n))
    // / (1 + z²/n). Every z is CAST to DOUBLE: DuckDB parses a bare 1.96
    // as DECIMAL, so bare 1.96*1.96 would fold to exactly 3.8416 instead
    // of the double product 3.8415999999999997 Spark computes (1-ULP
    // drift in 4/100 rows, caught by the bit-exact compare)
    "q_wilson" ->
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
         FROM a, z ORDER BY item""",

    // FIM twin (shared by the DataFrame path and the §2.6 front door)
    "q_fim" -> fimTwinSql,
    "q_sql_fim" -> fimTwinSql,

    // span-corruption twin (shared likewise)
    "q_span_corrupt" -> spanCorruptTwinSql,
    "q_sql_span_corrupt" -> spanCorruptTwinSql,


    // blocklist twin: list_filter preserves token order on both engines,
    // so the hit count AND the first-hit audit column replay exactly
    "q_blocklist" ->
      s"""WITH h AS (
           SELECT doc_id,
             list_filter(string_split(text, ' '),
               t -> t IN ($blocklistTermsSql)) AS hits
           FROM documents)
         SELECT doc_id,
           CAST(len(hits) AS BIGINT) AS n_banned,
           len(hits) > 0 AS flagged,
           CASE WHEN len(hits) > 0 THEN hits[1] END AS first_banned
         FROM h ORDER BY doc_id""",

    // shared twin (see passAtKTwinSql): both the DataFrame path and the
    // §2.6 SQL front door must converge on this one oracle
    "q_pass_at_k" -> passAtKTwinSql,
    "q_sql_pass_at_k" -> passAtKTwinSql,

    // preference-pair twin: the engine's struct max/min replayed as
    // explicit (value, event_id) ranked windows — ties break on the
    // HIGHER event_id for chosen, LOWER for rejected, exactly the
    // field-wise struct order
    "q_pref_pairs" ->
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
         ORDER BY ch.user_id""",

    // full Bradley-Terry MM replay: exact-cents win table, then 3 rounds
    // of denominator folds (list_reduce over list(... ORDER BY j), the
    // engine's sort_array ordered fold) and a sum-to-m rescale whose
    // item-ordered fold matches the engine's normalization
    "q_bradley_terry" -> bradleyTerryTwinSql,
    "q_sql_bradley_terry" -> bradleyTerryTwinSql,

    // class sizes and the risk share in exact longs; one quotient per row
    // same released counts through the SQL front door
    "q_sql_dp_release" ->
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
         FROM z ORDER BY source""",

    // replay the derandomized discrete-Laplace draw: FNV-1a of the key
    // in HUGEINT, low 32 bits, sign = bit 0, magnitude = trailing ones
    // of u>>1 via the (y XOR y+1)>>1 mask popcount — all integer, exact
    "q_dp_release" ->
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
         FROM z ORDER BY source""",

    "q_kanon" ->
      """WITH c AS (SELECT lang, source, count(*) AS n FROM documents
           GROUP BY 1, 2),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS total,
             CAST(coalesce(sum(CASE WHEN n < 10 THEN n END), 0) AS BIGINT)
               AS risky
           FROM c)
         SELECT lang, source, CAST(n AS BIGINT) AS n, n < 10 AS at_risk,
           t.risky AS rows_at_risk, t.total AS rows_total,
           CAST(t.risky AS DOUBLE) / CAST(t.total AS DOUBLE) AS risk_share
         FROM c, t ORDER BY lang, source""",

    "q_ldiversity" -> ldiversityTwinSql,

    // t-closeness twin: same integer cross-multiplied TV sum; the
    // closed-form absent-value term (1 - g_in/N) avoids materializing
    // absent (class, value) pairs in either engine
    "q_tcloseness" ->
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
         FROM per ORDER BY day""",
    // same audit through the §2.6 SQL front door -> same oracle
    "q_sql_ldiversity" -> ldiversityTwinSql,

    "q_time_split" ->
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
         GROUP BY 1, 2 ORDER BY event_type, split""",

    // histogram product vs the materialized join, both exact
    "q_join_size" ->
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
         FROM s, a""",

    // integer mixture weights: target_pct·total / (100·n) per stratum
    "q_mix_weights" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
         m AS (SELECT * FROM (VALUES ('en', 40), ('de', 15), ('es', 15),
             ('fr', 15), ('zh', 15)) AS v(lang, pct))
         SELECT c.lang, CAST(c.n AS BIGINT) AS n,
           CAST(coalesce(m.pct, 0) AS BIGINT) AS target_pct,
           CAST(coalesce(m.pct, 0) * t.total AS BIGINT) AS weight_num,
           CAST(100 * c.n AS BIGINT) AS weight_den,
           CAST(coalesce(m.pct, 0) * t.total AS DOUBLE)
             / CAST(100 * c.n AS DOUBLE) AS weight
         FROM c LEFT JOIN m USING (lang), t ORDER BY c.lang""",

    // the unrolled reset recursion: cum − least(running-min(cum), 0),
    // staged CTEs because windows can't nest
    "q_cusum" ->
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
         FROM c2 ORDER BY event_type, hour""",

    "q_skew_report" ->
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
         ORDER BY key_col""",

    // integer-exact drift gate: 10*|n_a*t_b - n_b*t_a| > t_a*t_b
    "q_drift" ->
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
         ORDER BY lang""",

    // k-means replay CTEs (a1 = assignments after 1 Lloyd iteration) +
    // per-cluster token counts + rank
    "q_cluster_terms" -> (kmeansAssignCtes +
      """,
         asg AS (SELECT vec_id AS doc_id, cid AS cluster FROM a1),
         tk AS (SELECT a.cluster,
             unnest(list_filter(regexp_split_to_array(d.text, '[ \n\t\r]+'),
               x -> x <> '')) AS term
           FROM documents d JOIN asg a USING (doc_id)),
         c AS (SELECT cluster, term, count(*) AS n FROM tk GROUP BY 1, 2),
         r AS (SELECT cluster, term, n,
             row_number() OVER (PARTITION BY cluster
               ORDER BY n DESC, term) AS rnk
           FROM c)
         SELECT cluster, term, n, CAST(rnk AS BIGINT) AS rnk FROM r
         WHERE rnk <= 3 ORDER BY cluster, rnk"""),

    // exact interpolated median + MAD per group (quantile_cont is the
    // same linear interpolation as Spark's percentile)
    "q_mad_outliers" ->
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
         ORDER BY o_orderpriority""",

    // min cost over all ≤4-hop paths from the seed set (recursive CTE);
    // the engine's 4 relax rounds must produce exactly this table
    "q_sssp" ->
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
         GROUP BY id ORDER BY node_id""",

    // lead window partitioned per user, then exact transition counts
    "q_transitions" ->
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
         ORDER BY from_type, to_type""",

    // positional postings + n-way self-join at fixed offsets
    "q_phrase_search" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[ \n\t\r]+'),
               x -> x <> '') AS t
           FROM documents),
         p AS (SELECT doc_id, i - 1 AS pos, t[i] AS term
           FROM toks, unnest(generate_series(1, len(t))) AS g(i))
         SELECT a.doc_id, CAST(a.pos AS BIGINT) AS pos
         FROM p a
         JOIN p b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
           AND b.term = 'part'
         JOIN p c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
           AND c.term = 'a'
         WHERE a.term = 'table'
         ORDER BY a.doc_id, pos""",

    // CMS replay: the same double hash (h(h(key) + row) % w) builds the
    // d×w counter table and serves the point lookups
    "q_cms" ->
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
         ORDER BY user_id""",

    // byte-slot sums → integer-exact bit rule → 4-bit bands → xor verify
    "q_media_phash" ->
      """WITH m AS (
           SELECT doc_id AS media_id, text,
             CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
           FROM documents),
         bytes AS (
           SELECT media_id, i, ord(substr(text, i, 1)) AS b
           FROM m, unnest(generate_series(1, CAST(n_bytes AS INTEGER))) AS t(i)),
         slots AS (
           SELECT media_id, (i - 1) % 32 AS slot,
             CAST(sum(b) AS BIGINT) AS s, count(*) AS c
           FROM bytes GROUP BY media_id, (i - 1) % 32),
         tot AS (
           SELECT media_id, CAST(sum(s) AS BIGINT) AS total,
             CAST(sum(c) AS BIGINT) AS n
           FROM slots GROUP BY media_id),
         ph AS (
           SELECT s.media_id,
             CAST(sum(CASE WHEN s.s * t.n > t.total * s.c
               THEN (CAST(1 AS BIGINT) << s.slot) ELSE 0 END) AS BIGINT) AS phash
           FROM slots s JOIN tot t USING (media_id)
           GROUP BY s.media_id),
         bands AS (
           SELECT media_id, phash, j AS band_idx,
             (phash >> (j * 4)) & 15 AS band_val
           FROM ph, unnest(generate_series(0, 7)) AS js(j)),
         cand AS (
           SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
             a.phash AS pa, b.phash AS pb
           FROM bands a JOIN bands b
             ON a.band_idx = b.band_idx AND a.band_val = b.band_val
             AND a.media_id < b.media_id)
         SELECT id_a, id_b,
           CAST(bit_count(xor(pa, pb)) AS INTEGER) AS hamming
         FROM cand
         WHERE bit_count(xor(pa, pb)) <= 2
         ORDER BY id_a, id_b""",

    "q_quantize" ->
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
         FROM c GROUP BY vec_id ORDER BY vec_id""",

    // 10 unrolled greedy MMR rounds over the exact top-30 (see mmrTwin)
    "q_mmr_rerank" -> mmrTwin(k = 10, n = 30),

    "q_ann_topk" ->
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
         WHERE rank <= 5 ORDER BY query_id, rank""",

    // pre-filtered corpus slice, otherwise the q_ann_topk shape
    "q_ann_filtered" ->
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
         WHERE rank <= 5 ORDER BY query_id, rank""",

    // FULL twin of the IVF path — seeds, one deterministic Lloyd
    // iteration (per-dimension sums folded in vec_id order, cast FLOAT,
    // exactly like Ivf.train's secondary-sort fold), corpus re-assignment,
    // nprobe=2 probe selection, and exact cosine top-k over the probed
    // lists. Possible only because training is bit-deterministic.
    "q_ann_ivf" -> ivfFullTwin(10),

    // train on the 80% base, assign/probe the full union — the exact
    // semantics of append-to-frozen-store (see the query comment)
    "q_ann_incremental" ->
      (kmeansAssignBaseCtes("vec_id % 5 <> 0") + ivfProbeSuffix(10)),

    // the STREAMED append converges to the same store as the batch
    // append (deterministic per-row assignment), so the twin is
    // q_ann_incremental's verbatim
    "q_stream_index_append" ->
      (kmeansAssignBaseCtes("vec_id % 5 <> 0") + ivfProbeSuffix(10)),

    "q_ann_ivf_pruned" -> ivfFullTwin(2),

    // compacted streamed store: compaction rewrites the same rows, so
    // the probe — and the twin — are the append query's verbatim
    "q_stream_index_compact" ->
      (kmeansAssignBaseCtes("vec_id % 5 <> 0") + ivfProbeSuffix(10)),

    // fully-stored index (centroids + lists both from parquet): FLOAT
    // columns round-trip bit-exactly, so the probe result — and the
    // twin — are q_ann_ivf's verbatim
    "q_ann_stored_index" -> ivfFullTwin(10),

    // recall-drift audit: three complete train-on-resident →
    // assign-stage-corpus → probe → recall stage replays, UNION ALL'd
    "q_ann_drift" -> annDriftTwin,

    // sampled audit: ONE stage block — train on everything (the stored
    // v=1 centroids), exact + frozen probe both restricted to the
    // hash-derived 50% sample (the identical two-limb Knuth bucket)
    "q_ann_drift_sampled" ->
      (annDriftStageSql(0, s"(${hash32Sql("vec_id")}) % 100 < 50", "TRUE") +
        "\n         ORDER BY query_id"),

    // versioned reindex: v=2 retrains on the store's own rows = the
    // full corpus (training is content-deterministic), so the newest-
    // version probe is q_ann_ivf's full twin verbatim
    "q_ann_reindex" -> ivfFullTwin(10),

    // two-writer race: the surviving newest version is the retry's
    // full-corpus train, so the probe is q_ann_ivf's twin verbatim
    // (the refusal/cleanup/convergence proofs are in-query requires)
    "q_ann_commit_race" -> ivfFullTwin(10),

    // versioned IVFADC triple: v=2's retrain rebuilt centroids,
    // codebooks AND codes on the store's full content = the full
    // corpus, so the disk probe is q_ann_ivfpq's twin verbatim
    "q_ann_pq_versioned" -> ivfPqTwin(m = 4, sub = 16, k = 8,
      nQueries = 10, topk = 5, nprobe = 2),

    // workload audit: the replayed log IS selfQueries(10) (the
    // newest-epoch-first deterministic selection returns the whole
    // single-epoch log), over the same hash-sampled 50% store — the
    // sampled single-stage replay verbatim
    "q_ann_workload" ->
      (annDriftStageSql(0, s"(${hash32Sql("vec_id")}) % 100 < 50", "TRUE") +
        "\n         ORDER BY query_id"),

    // vacuum retires old versions without touching the survivor: the
    // newest version trained on the full corpus, so its probe is
    // q_ann_ivf's full twin verbatim (retention proofs are in-query
    // requires)
    "q_ann_vacuum" -> ivfFullTwin(10),

    // compaction-as-a-version: same rows, same (resident-trained)
    // centroids, single folded layer — probe semantics are exactly the
    // frozen-centroid append, so the twin is q_ann_incremental's
    "q_ann_compact_version" ->
      (kmeansAssignBaseCtes("vec_id % 5 <> 0") + ivfProbeSuffix(10)),

    // in-stream drift repair: v=2 retrained on the store's full content
    // (originals + the 5-copy duplicate wave + the sign-mask re-encoded
    // wave), so the twin is the full train+probe replay over exactly
    // that union corpus — seeds stay the 8 lowest ORIGINAL ids (wave
    // ids are offset far above every corpus id), and the probe queries
    // (vec_id < 10) are original rows
    "q_stream_reindex" ->
      (kmeansAssignCorpusCtes("TRUE", "TRUE",
        s"""SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           UNION ALL
           SELECT vec_id + o, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings, (VALUES (100000), (110000), (120000),
             (130000), (140000)) AS offs(o)
           WHERE vec_id % 10 = 0
           UNION ALL
           SELECT vec_id + 200000,
             list_transform(CAST(embedding AS DOUBLE[]), (x, i) ->
               x * (CASE WHEN (${hash32Sql("vec_id*64 + i - 1")}) % 2 = 0
                    THEN 1.0 ELSE -1.0 END)) AS v
           FROM embeddings WHERE vec_id % 10 = 5""") + ivfProbeSuffix(10)),

    // the full in-stream lifecycle: v=3 retrained on the store's
    // complete content — originals, BOTH 5-copy duplicate waves
    // (%30=0 and %30=10 slices under their offset blocks; the
    // mid-stream compaction rewrites, never changes, these rows), and
    // the sign-mask re-encoded wave — so the twin is the train+probe
    // replay over exactly that union corpus
    "q_stream_lifecycle" ->
      (kmeansAssignCorpusCtes("TRUE", "TRUE",
        s"""SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           UNION ALL
           SELECT vec_id + o, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings, (VALUES (100000), (110000), (120000),
             (130000), (140000)) AS offs(o)
           WHERE vec_id % 30 = 0
           UNION ALL
           SELECT vec_id + o, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings, (VALUES (150000), (160000), (170000),
             (180000), (190000)) AS offs(o)
           WHERE vec_id % 30 = 10
           UNION ALL
           SELECT vec_id + 200000,
             list_transform(CAST(embedding AS DOUBLE[]), (x, i) ->
               x * (CASE WHEN (${hash32Sql("vec_id*64 + i - 1")}) % 2 = 0
                    THEN 1.0 ELSE -1.0 END)) AS v
           FROM embeddings WHERE vec_id % 10 = 5""") + ivfProbeSuffix(10)),

    // both the exact and the LSH-bucketed top-5 recomputed, intersected
    // per query; zero-hit queries kept by the left join
    "q_ann_recall" ->
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
          ORDER BY q.query_id""",

    // q_ann_recall's exact/approx lists, keeping the approx rank;
    // first_rank = min approx rank that is a true neighbor
    "q_mrr" ->
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
          ORDER BY q.query_id""",

    // nDCG twin: the same e/b/q/ex/ap ranking CTEs as q_mrr (exact rank
    // kept), relevance 6−exact_rank, discount weights and the ideal DCG
    // embedded as the ENGINE's doubles (Double.toString round-trips), the
    // per-query DCG as a rank-ordered list_reduce fold
    "q_ann_ndcg" -> {
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
    },

    "q_hard_negatives" ->
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
         WHERE rank <= 5 ORDER BY query_id, rank""",

    // unit vector exploded to (vec_id, pos, unit) FLOAT rows on BOTH
    // engines: the division and both casts are correctly rounded, so
    // every component compares bit-for-bit
    // same signs from hash32Sql, same in-order fold, same 1/sqrt(16)
    "q_jl_project" ->
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
         ORDER BY vec_id, dim""",

    "q_embed_normalize" ->
      """SELECT vec_id, CAST(i - 1 AS INT) AS pos,
           CASE WHEN list_dot_product(v, v) = 0.0
                THEN CAST(0.0 AS FLOAT)
                ELSE CAST(v[i] / sqrt(list_dot_product(v, v)) AS FLOAT)
           END AS unit
         FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
              unnest(generate_series(1, length(v))) AS g(i)
         ORDER BY vec_id, pos""",

    // SemDeDup: same deterministic k-means prefix, then within-cluster
    // exact-cosine pair enumeration — the cluster partition (not just the
    // survivors) is what the twin proves
    "q_semdedup" -> semdedupTwin,

    // the LSH buckets recomputed in DuckDB from the same literal-embedded
    // hyperplanes (6 planes), then exact cosine top-k WITHIN each query's
    // bucket — a full two-sided twin of the approximate path (the
    // approximation is in WHICH candidates are scored, and the twin
    // reproduces the bucketing bit-exactly)
    "q_ann_lsh" ->
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
         WHERE rank <= 5 ORDER BY query_id, rank""",

    "q_sample_stratified" ->
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
         ORDER BY o_orderpriority""",

    "q_dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
           count(*) AS n_dups
         FROM documents GROUP BY text ORDER BY keep_id""",

    "q_redact" ->
      """SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 substr(text, 1, 40) || ' contact bob' || CAST(doc_id AS VARCHAR)
                   || '@mail-example.com see https://ex.org/d/'
                   || CAST(doc_id AS VARCHAR)
                   || ' ref 4049100' || CAST(doc_id AS VARCHAR),
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               'https?://[^ \t\n]+', '<URL>', 'g'),
             '[0-9]{6,}', '<NUM>', 'g') AS redacted
         FROM documents ORDER BY doc_id""",

    // curation-log twin: the q_quality_filter signal replays (token
    // count, punct ratio, repetition) plus the blocklist probe, folded
    // through the SAME first-failing-rule CASE order
    "q_curation_report" ->
      s"""WITH scored AS (
           SELECT doc_id, source,
             $qualitySignalsSql,
             len(list_filter(string_split(text, ' '),
               t -> t IN ($blocklistTermsSql))) > 0 AS blocked
           FROM documents),
         r AS (
           SELECT source,
             CASE WHEN n_tokens < $QfMinTokens THEN 'too_short'
                  WHEN n_tokens > $QfMaxTokens THEN 'too_long'
                  WHEN punct_ratio >= $QfMaxPunct THEN 'high_punct'
                  WHEN rep >= $QfMaxRep THEN 'repetitive'
                  WHEN blocked THEN 'blocklisted'
                  ELSE 'keep' END AS reason
           FROM scored)
         SELECT source, reason, CAST(count(*) AS BIGINT) AS n_docs
         FROM r GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_quality_filter" ->
      s"""WITH scored AS (
           SELECT source,
             $qualitySignalsSql
           FROM documents)
         SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN n_tokens BETWEEN $QfMinTokens AND $QfMaxTokens
                          AND punct_ratio < $QfMaxPunct AND rep < $QfMaxRep
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         FROM scored GROUP BY source ORDER BY source""",

    // the full TextStats heuristic recomputed in SQL: token/char class
    // counts via regex twins of the kernel's char classes, the quality
    // formula in the same operation order, the first-max-wins language
    // argmax as an ordered CASE, and the rolling FNV-1a fingerprint in
    // HUGEINT mod-2^64 arithmetic mapped back to signed BIGINT
    "q_text_quality" -> (qualityCtes +
      """,
         fp AS (
           SELECT doc_id,
             list_reduce(
               list_prepend(CAST(0 AS HUGEINT),
                 list_transform(tk, t ->
                   list_reduce(
                     list_prepend(CAST('14695981039346656037' AS HUGEINT),
                       list_transform(generate_series(1, length(t)),
                         i -> CAST(ord(substr(t, i, 1)) AS HUGEINT))),
                     (h, b) -> (xor(h, b) * CAST('1099511628211' AS HUGEINT))
                       % CAST('18446744073709551616' AS HUGEINT)))),
               (acc, f) -> (acc * 1000003 + f)
                 % CAST('18446744073709551616' AS HUGEINT)) AS ufp
           FROM toks)
         SELECT q.doc_id, q.quality, q.lang_pred, q.stopword_ratio,
           CAST(CASE WHEN fp.ufp >= CAST('9223372036854775808' AS HUGEINT)
             THEN fp.ufp - CAST('18446744073709551616' AS HUGEINT)
             ELSE fp.ufp END AS BIGINT) AS fingerprint
         FROM q JOIN fp ON q.doc_id = fp.doc_id
         ORDER BY q.doc_id"""),

    // top-quality curation: per-source top-5 docs by the TextStats quality
    // score (ties broken by doc_id; scores are bit-identical across
    // engines, so the ranking is too — same qualityCtes prefix)
    "q_curate" -> (qualityCtes +
      """,
         sel AS (
           SELECT q.doc_id, d.source, q.quality,
             CAST(row_number() OVER (PARTITION BY d.source
               ORDER BY q.quality DESC, q.doc_id) AS BIGINT) AS rank
           FROM q JOIN documents d ON q.doc_id = d.doc_id)
         SELECT doc_id, source, quality, rank FROM sel
         WHERE rank <= 5 ORDER BY source, rank"""),

    "q_mix_temperature" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents
                    GROUP BY source),
         m AS (SELECT min(n) AS nmin FROM c),
         keep AS (
           SELECT d.doc_id, d.source
           FROM documents d JOIN c ON d.source = c.source CROSS JOIN m
           WHERE (
             ((d.doc_id % 4294967296) % 65536) * 2654435761
             + ((((d.doc_id % 4294967296) // 65536) * 2654435761)
                % 65536) * 65536
           ) % 4294967296
           < CAST(floor(sqrt(CAST(m.nmin AS DOUBLE) / CAST(c.n AS DOUBLE))
                        * 4294967296.0) AS BIGINT))
         SELECT source, count(*) AS n_kept FROM keep
         GROUP BY source ORDER BY source""",

    "q_chunk" ->
      """SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
           CAST(i * 160 AS BIGINT) AS start_char,
           substr(text, i * 160 + 1, 200) AS chunk_text
         FROM documents,
           unnest(generate_series(0,
             greatest((length(text) - 1) // 160, 0))) AS g(i)
         ORDER BY doc_id, chunk_idx""",

    // four-stage pipeline twin: min-id dedup survivors, quality gate,
    // the same width-safe two-limb Knuth hash split, per-cell report
    "q_pipeline" -> (qualityCtes +
      """,
         kept AS (SELECT min(doc_id) AS doc_id FROM documents
                  GROUP BY text),
         good AS (SELECT q.doc_id, d.source, q.n_tokens
                  FROM q JOIN kept k ON q.doc_id = k.doc_id
                  JOIN documents d ON d.doc_id = q.doc_id
                  WHERE q.quality >= 0.5),
         sp AS (SELECT *, CASE WHEN (
                  ((doc_id % 4294967296) % 65536) * 2654435761
                  + ((((doc_id % 4294967296) // 65536) * 2654435761)
                     % 65536) * 65536
                ) % 4294967296 % 100 < 80
                  THEN 'train' ELSE 'eval' END AS split
                FROM good)
         SELECT source, split, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
         FROM sp GROUP BY source, split ORDER BY source, split"""),

    // aggregator formulation — identical result, shared twin
    "q_curate_agg" -> (qualityCtes +
      """,
         sel AS (
           SELECT q.doc_id, d.source, q.quality,
             CAST(row_number() OVER (PARTITION BY d.source
               ORDER BY q.quality DESC, q.doc_id) AS BIGINT) AS rank
           FROM q JOIN documents d ON q.doc_id = d.doc_id)
         SELECT doc_id, source, quality, rank FROM sel
         WHERE rank <= 5 ORDER BY source, rank"""),

    // full O(n²) cross twin of asymmetric containment; the filter is
    // written shared >= n_e * t to match the engine bit-for-bit
    "q_decontaminate" ->
      """WITH toks AS (
           SELECT doc_id, source,
             list_filter(regexp_split_to_array(text, '[ \n\t\r]+'),
               x -> x <> '') AS tk
           FROM documents),
         grams AS (
           SELECT doc_id, source,
             list_distinct(list_transform(
               generate_series(1, greatest(len(tk) - 2, 0)),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS gs
           FROM toks),
         ev AS (SELECT doc_id AS eval_id, gs, len(gs) AS n_e FROM grams
                WHERE source = 'src1' AND len(gs) > 0),
         tr AS (SELECT doc_id AS train_id, gs FROM grams
                WHERE source <> 'src1')
         SELECT e.eval_id, t.train_id,
           CAST(len(list_intersect(e.gs, t.gs)) AS DOUBLE) / e.n_e
             AS containment
         FROM ev e JOIN tr t ON TRUE
         WHERE CAST(len(list_intersect(e.gs, t.gs)) AS DOUBLE)
           >= e.n_e * 0.5
         ORDER BY eval_id, train_id""",

    "q_mix_weighted" ->
      """WITH h AS (
           SELECT doc_id, source,
             (((doc_id % 4294967296) % 65536) * 2654435761
              + ((((doc_id % 4294967296) // 65536) * 2654435761) % 65536)
                * 65536)
             % 4294967296 % 100 AS bucket
           FROM documents)
         SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
           min(doc_id) AS min_id
         FROM h
         WHERE bucket < (CASE WHEN source = 'src0' THEN 60
                              WHEN source = 'src1' THEN 30
                              ELSE 10 END)
         GROUP BY source ORDER BY source""",

    "q_mix_quota" ->
      """WITH h AS (
           SELECT doc_id, source,
             (((doc_id % 4294967296) % 65536) * 2654435761
              + ((((doc_id % 4294967296) // 65536) * 2654435761) % 65536)
                * 65536)
             % 4294967296 AS hh
           FROM documents),
         r AS (
           SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY hh, doc_id)
               AS rk
           FROM h)
         SELECT doc_id, source FROM r WHERE rk <= 10 ORDER BY doc_id""",

    "q_rendezvous" ->
      s"""WITH scored AS (
           SELECT doc_id, j AS shard,
             ${hash32Sql(s"(${hash32Sql("doc_id")}) + j")} AS h
           FROM documents, unnest(generate_series(0, 7)) AS t(j)),
         pick AS (SELECT doc_id, shard FROM (
             SELECT doc_id, shard, row_number() OVER (PARTITION BY doc_id
               ORDER BY h DESC, shard ASC) AS rn
             FROM scored) WHERE rn = 1)
         SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
           min(doc_id) AS min_id, max(doc_id) AS max_id
         FROM pick GROUP BY shard ORDER BY shard""",

    "q_shards" ->
      """WITH h AS (
           SELECT doc_id,
             (((doc_id % 4294967296) % 65536) * 2654435761
              + ((((doc_id % 4294967296) // 65536) * 2654435761) % 65536)
                * 65536)
             % 4294967296 % 8 AS shard
           FROM documents)
         SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
           min(doc_id) AS min_id, max(doc_id) AS max_id
         FROM h GROUP BY shard ORDER BY shard""",

    // the twin replays the pack sequentially: same two-limb hash order,
    // running token sum (HUGEINT window sum cast back), same div/mod
    "q_pack" ->
      """WITH t AS (
           SELECT doc_id,
             CAST(length(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
             (((doc_id % 4294967296) % 65536) * 2654435761
              + ((((doc_id % 4294967296) // 65536) * 2654435761) % 65536)
                * 65536)
             % 4294967296 AS ord
           FROM documents),
         c AS (
           SELECT doc_id, n_tokens,
             CAST(COALESCE(sum(n_tokens) OVER (ORDER BY ord, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS s
           FROM t)
         SELECT doc_id, n_tokens,
           s // 2048 AS seq_id,
           s % 2048 AS seq_offset
         FROM c ORDER BY doc_id""",

    // replay winnowing: positional 4-gram FNV in HUGEINT mapped to
    // signed BIGINT (Spark's array_min compares signed longs), rolling
    // window-min with the same truncated-window rule for short docs,
    // the hot-bucket cap, then the shared-fingerprint pair count
    "q_winnow" ->
winnowTwinSql,

    // same result through the SQL front door (window-min formulation)
    "q_sql_winnow" -> winnowTwinSql,

    // replay the kernel in DuckDB: explode to (line, position), keep each
    // line's first position, reassemble in order
    "q_dedup_spans" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents),
         g AS (SELECT doc_id, i AS gpos,
                 array_to_string(toks[i:i+7], ' ') AS gram
               FROM t, unnest(generate_series(1,
                 greatest(0, length(toks) - 7))) AS s(i)),
         rep AS (SELECT gram FROM (
                   SELECT gram, count(DISTINCT doc_id) AS nd
                   FROM g GROUP BY gram) WHERE nd >= 2),
         cov AS (SELECT DISTINCT g.doc_id, u.p
                 FROM g JOIN rep USING (gram),
                      unnest(generate_series(g.gpos, g.gpos + 7)) AS u(p)),
         u AS (SELECT doc_id, i AS pos, toks[i] AS tok
               FROM t, unnest(generate_series(1, length(toks))) AS s(i)),
         kept AS (SELECT u.doc_id, u.pos, u.tok FROM u
                  WHERE NOT EXISTS (SELECT 1 FROM cov
                    WHERE cov.doc_id = u.doc_id AND cov.p = u.pos)),
         r AS (SELECT doc_id,
                 array_to_string(list(tok ORDER BY pos), ' ') AS cleaned
               FROM kept GROUP BY doc_id)
         SELECT d.doc_id, COALESCE(r.cleaned, '') AS cleaned
         FROM documents d LEFT JOIN r ON d.doc_id = r.doc_id
         ORDER BY d.doc_id""",

    "q_boilerplate" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ls
           FROM documents),
         u AS (SELECT doc_id, ls[i] AS line, i AS ord
           FROM t, unnest(generate_series(1, length(ls))) AS g(i)),
         b AS (SELECT line FROM (
                 SELECT line, count(DISTINCT doc_id) AS nd
                 FROM u GROUP BY line) WHERE nd >= 100),
         k AS (SELECT doc_id, line, ord FROM u
               WHERE line NOT IN (SELECT line FROM b)),
         r AS (SELECT doc_id,
                 array_to_string(list(line ORDER BY ord), ' ') AS cleaned
               FROM k GROUP BY doc_id)
         SELECT d.doc_id, COALESCE(r.cleaned, '') AS cleaned
         FROM documents d LEFT JOIN r ON d.doc_id = r.doc_id
         ORDER BY d.doc_id""",

    "q_dedup_lines" ->
      """WITH t AS (SELECT doc_id,
             string_split(replace(text, ' ', chr(10)), chr(10)) AS ls
           FROM documents),
         u AS (SELECT doc_id, ls[i] AS line, i AS ord
           FROM t, unnest(generate_series(1, length(ls))) AS g(i)),
         f AS (SELECT doc_id, line, min(ord) AS ord
           FROM u GROUP BY doc_id, line)
         SELECT doc_id,
           array_to_string(list(line ORDER BY ord), chr(10)) AS cleaned
         FROM f GROUP BY doc_id ORDER BY doc_id""",

    "q_dedup_incremental" ->
      """SELECT i.doc_id, i.source, i.n_chars FROM documents i
         WHERE i.source = 'src0' AND NOT EXISTS (
           SELECT 1 FROM documents r
           WHERE r.source <> 'src0' AND r.text = i.text)
         ORDER BY i.doc_id""",

    // the bloom-prefiltered path must produce EXACTLY the anti-join result
    // (no false negatives) — same ground truth as q_dedup_incremental
    "q_dedup_bloom" ->
      """SELECT i.doc_id, i.source, i.n_chars FROM documents i
         WHERE i.source = 'src0' AND NOT EXISTS (
           SELECT 1 FROM documents r
           WHERE r.source <> 'src0' AND r.text = i.text)
         ORDER BY i.doc_id""",

    // full O(n²) cross-corpus exact twin; comparison written as
    // shared >= union * t, matching the engine's formulation bit-for-bit
    "q_dedup_incremental_near" ->
      """WITH grams AS (
           SELECT doc_id, source,
             list_distinct(list_transform(
               generate_series(1, greatest(length(text) - 4, 0)),
               i -> substr(text, i, 5))) AS gs
           FROM documents),
         inc AS (SELECT doc_id, gs FROM grams WHERE source = 'src0'),
         ref AS (SELECT doc_id, gs FROM grams WHERE source <> 'src0'),
         dup AS (
           SELECT DISTINCT i.doc_id
           FROM inc i JOIN ref r ON TRUE
           WHERE CAST(len(list_intersect(i.gs, r.gs)) AS DOUBLE) >=
             (len(i.gs) + len(r.gs) - len(list_intersect(i.gs, r.gs)))
               * 0.7)
         SELECT doc_id FROM inc
         WHERE doc_id NOT IN (SELECT doc_id FROM dup)
         ORDER BY doc_id""",

    // full O(n²) exact byte-shingle Jaccard twin — proves MinHash banding
    // candidate recall is lossless at gate scale (corpus is ASCII, so
    // DuckDB's char substr == the kernel's byte windows)
    "q_dedup_minhash" -> minhashExactTwinSql,
    // the auto-gated path chooses a cap that caps nothing at gate scale,
    // so the same exact twin proves it end to end
    "q_dedup_autocap" -> minhashExactTwinSql,

    // bit-exact FNV-1a simhash recomputed in DuckDB (HUGEINT mod-2^64
    // arithmetic), ALL pairs at hamming <= 3 — two-sided proof of the
    // 4-chunk pigeonhole candidate generation's completeness
    "q_dedup_simhash" ->
      s"""$simhashBitsCte
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_filter(generate_series(1, 64),
             i -> a.bits[i] <> b.bits[i])) AS BIGINT) AS hamming
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE len(list_filter(generate_series(1, 64),
           i -> a.bits[i] <> b.bits[i])) <= 3
         ORDER BY id_a, id_b""",

    // the wide radius exceeds the pigeonhole guarantee, so the twin also
    // reproduces the CANDIDATE rule (agreement on at least one 16-bit
    // chunk) — hash-checking the deterministic approximation itself
    "q_dedup_simhash_wide" ->
      s"""$simhashBitsCte
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_filter(generate_series(1, 64),
             i -> a.bits[i] <> b.bits[i])) AS BIGINT) AS hamming
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE (a.bits[1:16] = b.bits[1:16] OR a.bits[17:32] = b.bits[17:32]
            OR a.bits[33:48] = b.bits[33:48] OR a.bits[49:64] = b.bits[49:64])
           AND len(list_filter(generate_series(1, 64),
             i -> a.bits[i] <> b.bits[i])) <= 8
         ORDER BY id_a, id_b""",

    // hyperplane buckets recomputed in DuckDB from the same (literal-
    // embedded) planes + exact cosine — full two-sided twin
    "q_embed_neardup" ->
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
         ORDER BY id_a, id_b""",

    // exact pair graph + recursive-CTE component labeling (min reachable
    // id via bidirectional label propagation), survivors = component minima
    "q_dedup_survivors" ->
      """WITH RECURSIVE toks AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[ \n\t\r]+'),
               x -> x <> '') AS tk
           FROM documents),
         grams AS (
           SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(tk) - 2, 0)),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS gs
           FROM toks),
         edges AS (
           SELECT a.doc_id AS src, b.doc_id AS dst
           FROM grams a JOIN grams b ON a.doc_id < b.doc_id
           WHERE len(a.gs) > 0 AND len(b.gs) > 0
             AND CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) /
               (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs)))
               >= 0.5),
         bi AS (SELECT src, dst FROM edges
                UNION SELECT dst, src FROM edges),
         reach(id, label) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT b.dst, r.label FROM reach r JOIN bi b ON b.src = r.id),
         comp AS (SELECT id, min(label) AS component FROM reach GROUP BY id)
         SELECT d.doc_id, d.source, d.n_chars
         FROM documents d JOIN comp c ON d.doc_id = c.id
         WHERE c.component = d.doc_id
         ORDER BY d.doc_id""",

    // same component labeling, best-member (longest, ties -> lowest id)
    // selection instead of min-id canonical
    "q_dedup_best" ->
      """WITH RECURSIVE toks AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[ \n\t\r]+'),
               x -> x <> '') AS tk
           FROM documents),
         grams AS (
           SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(tk) - 2, 0)),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS gs
           FROM toks),
         edges AS (
           SELECT a.doc_id AS src, b.doc_id AS dst
           FROM grams a JOIN grams b ON a.doc_id < b.doc_id
           WHERE len(a.gs) > 0 AND len(b.gs) > 0
             AND CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) /
               (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs)))
               >= 0.5),
         bi AS (SELECT src, dst FROM edges
                UNION SELECT dst, src FROM edges),
         reach(id, label) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT b.dst, r.label FROM reach r JOIN bi b ON b.src = r.id),
         comp AS (SELECT id, min(label) AS component FROM reach GROUP BY id),
         sel AS (
           SELECT c.id,
             row_number() OVER (PARTITION BY c.component
               ORDER BY d.n_chars DESC, c.id) AS rn
           FROM comp c JOIN documents d ON d.doc_id = c.id)
         SELECT d.doc_id, d.source, d.n_chars
         FROM documents d JOIN sel s ON d.doc_id = s.id
         WHERE s.rn = 1
         ORDER BY d.doc_id""",

    "q_dedup_ngram" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[ \n\t\r]+'),
               x -> x <> '') AS tk
           FROM documents),
         grams AS (
           SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(tk) - 2, 0)),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS gs
           FROM toks),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) /
               (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs)))
               AS jaccard
           FROM grams a JOIN grams b ON a.doc_id < b.doc_id
           WHERE len(a.gs) > 0 AND len(b.gs) > 0)
         SELECT id_a, id_b, jaccard FROM pairs
         WHERE jaccard >= 0.5 ORDER BY id_a, id_b""",

    // closed-form frame pixels → SAD → same integer cut rule
    "q_media_shots" ->
      """WITH px AS (
           SELECT doc_id AS media_id, f, i,
             (((doc_id * 2 + CASE WHEN f >= 3 THEN 1 ELSE 0 END) * 131
               + (i + f) * 7) % 256) AS v
           FROM documents,
                unnest(generate_series(0, 5)) AS t(f),
                unnest(generate_series(0, 143)) AS s(i)),
         sad AS (
           SELECT a.media_id, b.f AS frame_idx,
             CAST(sum(abs(b.v - a.v)) AS BIGINT) AS sad
           FROM px a JOIN px b
             ON a.media_id = b.media_id AND a.i = b.i AND b.f = a.f + 1
           GROUP BY 1, 2)
         SELECT media_id, CAST(frame_idx AS INT) AS frame_idx, sad,
           sad > 40 * 144 AS is_cut
         FROM sad ORDER BY media_id, frame_idx""",

    "q_media_frames" ->
      """WITH m AS (
           SELECT doc_id AS media_id,
             CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
           FROM documents WHERE CAST(doc_id % 3 AS INTEGER) = 2),
         f AS (
           SELECT media_id,
             CAST(floor((n_bytes / 64.0) / 4) AS INTEGER) AS n_frames
           FROM m)
         SELECT media_id, CAST(t.k AS BIGINT) AS frame_idx,
           CAST(t.k * 256 AS BIGINT) AS byte_offset
         FROM f, unnest(generate_series(0, n_frames - 1)) AS t(k)
         WHERE n_frames > 0
         ORDER BY media_id, frame_idx""",

    "q_connected_components" ->
      """WITH flags AS (
           SELECT doc_id, lang,
             CASE WHEN lag(lang) OVER (ORDER BY doc_id) = lang
                  THEN 0 ELSE 1 END AS new_run
           FROM documents),
         runs AS (
           SELECT doc_id,
             sum(new_run) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
               AS run_id
           FROM flags)
         SELECT doc_id, min(doc_id) OVER (PARTITION BY run_id) AS component
         FROM runs ORDER BY doc_id""",

    // resize twin: replay the pixel generator over the OUTPUT raster
    // (6x4), each output pixel = truncating mean (// 4) of its 2x2 source
    // block per channel — the same integer arithmetic as the box filter
    // over the ImageIO-decoded pixels, so a hash match certifies the
    // decode+resize path end-to-end with no codec on the oracle side
    "q_media_resize" ->
      """WITH o AS (
           SELECT doc_id AS media_id, t.j % 6 AS xo, t.j // 6 AS yo
           FROM documents, unnest(generate_series(0, 23)) AS t(j)),
         px AS (
           SELECT media_id, xo, yo,
             (media_id * 131 +
               (((2*yo + dy.d) * 12 + (2*xo + dx.e)) * 3 + 0) * 7) % 256 AS r,
             (media_id * 131 +
               (((2*yo + dy.d) * 12 + (2*xo + dx.e)) * 3 + 1) * 7) % 256 AS g,
             (media_id * 131 +
               (((2*yo + dy.d) * 12 + (2*xo + dx.e)) * 3 + 2) * 7) % 256 AS b
           FROM o, unnest(generate_series(0, 1)) AS dy(d),
             unnest(generate_series(0, 1)) AS dx(e)),
         blk AS (
           SELECT media_id, xo, yo, sum(r) // 4 AS r4, sum(g) // 4 AS g4,
             sum(b) // 4 AS b4
           FROM px GROUP BY media_id, xo, yo)
         SELECT media_id, CAST(6 AS INTEGER) AS width,
           CAST(4 AS INTEGER) AS height,
           CAST(sum(r4) AS BIGINT) AS sum_r,
           CAST(sum(g4) AS BIGINT) AS sum_g,
           CAST(sum(b4) AS BIGINT) AS sum_b
         FROM blk GROUP BY media_id ORDER BY media_id""",

    // real-decode twin: the oracle replays the closed-form pixel generator
    // v(id, idx) = (id*131 + idx*7) % 256 over a 12×8 RGB raster — no codec
    // on the oracle side, so a hash match certifies Spark's actual PNG
    // encode→ImageIO.read→pixels path reproduced every pixel exactly
    // audio twin: sample i and its predecessor both come straight from the
    // closed-form generator (no lag window needed); all aggregates are
    // BIGINT, rms = one DOUBLE division + correctly-rounded sqrt
    "q_media_audio" ->
      """WITH sm AS (
           SELECT doc_id AS media_id, t.i AS i,
             ((doc_id * 37 + t.i * 2654435761) % 65536) - 32768 AS s,
             CASE WHEN t.i > 0 THEN
               ((doc_id * 37 + (t.i - 1) * 2654435761) % 65536) - 32768
             END AS sp
           FROM documents, unnest(generate_series(0, 255)) AS t(i))
         SELECT media_id, CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
           CAST(sum(s * s) AS BIGINT) AS sum_sq,
           CAST(max(abs(s)) AS BIGINT) AS peak_abs,
           CAST(sum(CASE WHEN i > 0 AND ((s < 0) <> (sp < 0)) THEN 1
             ELSE 0 END) AS BIGINT) AS zero_crossings,
           sqrt(CAST(sum(s * s) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS rms
         FROM sm GROUP BY media_id ORDER BY media_id""",

    // VAD twin: frame energies from the closed-form PCM generator
    // (32-sample frames over the 256-sample clip), voiced = frame
    // sum(|s|) >= 16384·32, then gaps-and-islands — islands keyed by
    // frame − row_number() within the voiced class — for segment count
    // and longest run; every decision in BIGINT
    "q_media_vad" ->
      """WITH sm AS (
           SELECT doc_id AS media_id, t.i AS i,
             abs(((doc_id * 37 + t.i * 2654435761) % 65536) - 32768) AS a
           FROM documents, unnest(generate_series(0, 255)) AS t(i)),
         f AS (
           SELECT media_id, i // 32 AS frame,
             CAST(sum(a) AS BIGINT) AS e
           FROM sm GROUP BY 1, 2),
         v AS (SELECT media_id, frame, e >= 524288 AS voiced FROM f),
         isl AS (
           SELECT media_id, frame, voiced,
             frame - row_number() OVER (PARTITION BY media_id, voiced
               ORDER BY frame) AS grp
           FROM v),
         runs AS (
           SELECT media_id, grp, CAST(count(*) AS BIGINT) AS len
           FROM isl WHERE voiced GROUP BY 1, 2),
         agg AS (
           SELECT media_id, CAST(count(*) AS BIGINT) AS n_frames,
             CAST(sum(CASE WHEN voiced THEN 1 ELSE 0 END) AS BIGINT)
               AS n_voiced
           FROM v GROUP BY 1),
         seg AS (
           SELECT media_id, CAST(count(*) AS BIGINT) AS n_segments,
             CAST(max(len) AS BIGINT) AS longest_run
           FROM runs GROUP BY 1)
         SELECT a.media_id, a.n_frames, a.n_voiced,
           coalesce(seg.n_segments, 0) AS n_segments,
           coalesce(seg.longest_run, 0) AS longest_run
         FROM agg a LEFT JOIN seg ON seg.media_id = a.media_id
         ORDER BY a.media_id""",

    "q_media_decode" ->
      """WITH px AS (
           SELECT doc_id AS media_id, t.i AS idx,
             (doc_id * 131 + t.i * 7) % 256 AS v
           FROM documents, unnest(generate_series(0, 287)) AS t(i))
         SELECT media_id,
           CAST(12 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
           CAST(sum(CASE WHEN idx % 3 = 0 THEN v END) AS BIGINT) AS sum_r,
           CAST(sum(CASE WHEN idx % 3 = 1 THEN v END) AS BIGINT) AS sum_g,
           CAST(sum(CASE WHEN idx % 3 = 2 THEN v END) AS BIGINT) AS sum_b
         FROM px GROUP BY media_id ORDER BY media_id""",

    // pixel-feature twin: channel means as ONE IEEE division of exact
    // integer sums (CAST both sides to DOUBLE — bare literals are DECIMAL
    // in DuckDB); luminance = integer Rec.601 with // division, bin = //32
    "q_media_features" ->
      """WITH pxj AS (
           SELECT doc_id AS media_id,
             (doc_id * 131 + (t.j * 3 + 0) * 7) % 256 AS r,
             (doc_id * 131 + (t.j * 3 + 1) * 7) % 256 AS g,
             (doc_id * 131 + (t.j * 3 + 2) * 7) % 256 AS b
           FROM documents, unnest(generate_series(0, 95)) AS t(j)),
         lums AS (
           SELECT media_id, r, g, b,
             ((299 * r + 587 * g + 114 * b) // 1000) // 32 AS bin
           FROM pxj)
         SELECT media_id,
           CAST(sum(r) AS DOUBLE) / CAST(96 AS DOUBLE) AS mean_r,
           CAST(sum(g) AS DOUBLE) / CAST(96 AS DOUBLE) AS mean_g,
           CAST(sum(b) AS DOUBLE) / CAST(96 AS DOUBLE) AS mean_b,
           CAST(sum(CASE WHEN bin = 0 THEN 1 ELSE 0 END) AS BIGINT) AS lum_b0,
           CAST(sum(CASE WHEN bin = 1 THEN 1 ELSE 0 END) AS BIGINT) AS lum_b1,
           CAST(sum(CASE WHEN bin = 2 THEN 1 ELSE 0 END) AS BIGINT) AS lum_b2,
           CAST(sum(CASE WHEN bin = 3 THEN 1 ELSE 0 END) AS BIGINT) AS lum_b3,
           CAST(sum(CASE WHEN bin = 4 THEN 1 ELSE 0 END) AS BIGINT) AS lum_b4,
           CAST(sum(CASE WHEN bin = 5 THEN 1 ELSE 0 END) AS BIGINT) AS lum_b5,
           CAST(sum(CASE WHEN bin = 6 THEN 1 ELSE 0 END) AS BIGINT) AS lum_b6,
           CAST(sum(CASE WHEN bin = 7 THEN 1 ELSE 0 END) AS BIGINT) AS lum_b7
         FROM lums GROUP BY media_id ORDER BY media_id""",

    "q_media_meta" ->
      """SELECT CASE CAST(doc_id % 3 AS INTEGER)
             WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
             ELSE 'video/mp4' END AS mime,
           count(*) AS n_media,
           CAST(sum(CAST(octet_length(CAST(text AS BLOB)) AS BIGINT)) AS BIGINT) AS total_bytes,
           min(CAST(octet_length(CAST(text AS BLOB)) AS BIGINT)) AS min_bytes,
           max(CAST(octet_length(CAST(text AS BLOB)) AS BIGINT)) AS max_bytes
         FROM documents GROUP BY 1 ORDER BY mime""",

    "q_asof_forward" ->
      """SELECT c.event_id, c.user_id, p.p_event_id, p.p_value
         FROM (SELECT event_id, ts, user_id FROM events
               WHERE event_type = 'click') c
         ASOF LEFT JOIN (SELECT user_id AS pu, ts AS pts,
                 event_id AS p_event_id, value AS p_value FROM events
               WHERE event_type = 'purchase') p
           ON c.user_id = p.pu AND c.ts <= p.pts
         ORDER BY c.event_id""",

    "q_upsert" ->
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
         ORDER BY c_custkey""",

    // the twin REPLAYS the three epochs sequentially — true CDC history
    // semantics differ from the one-shot merge: a key deleted in an early
    // epoch and re-inserted later has lost its base-only columns
    // (c_name/c_mktsegment), which a global latest-wins would resurrect
    "q_cdc_stream" -> cdcStreamTwin,

    "q_salted_join" ->
      """SELECT o_orderstatus, count(*) AS n,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             AS sum_price
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q_join_hint" ->
      """SELECT o_orderstatus, count(*) AS n
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q_union_by_name" ->
      """SELECT c_custkey AS k, c_name AS nm FROM customer
         UNION ALL
         SELECT s_suppkey AS k, s_name AS nm FROM supplier
         ORDER BY k, nm""",

    "q_struct_nested" ->
      """SELECT o_orderkey,
           struct_pack(c := o_custkey, p := o_totalprice).c AS cust,
           struct_pack(c := o_custkey, p := o_totalprice).p * 2
             AS double_price
         FROM orders ORDER BY o_orderkey""",

    "q_window_lag" ->
      """SELECT o_custkey, o_orderkey,
           lag(o_totalprice, 1) OVER w AS prev_price,
           lead(o_totalprice, 1) OVER w AS next_price,
           CAST(dense_rank() OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate) AS BIGINT) AS date_rank,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           first_value(o_totalprice) OVER w AS first_price
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, o_orderkey""",

    "q_window_range" ->
      """SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderkey
             RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS near_total
         FROM orders ORDER BY o_custkey, o_orderkey""",

    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(grouping(l_returnflag) AS BIGINT) * 2 +
             CAST(grouping(l_linestatus) AS BIGINT) AS gid
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY gid, l_returnflag ASC NULLS FIRST,
           l_linestatus ASC NULLS FIRST""",

    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",

    "q_unpivot" ->
      """SELECT metric, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
         FROM (SELECT l_quantity, l_discount, l_tax FROM lineitem)
           UNPIVOT (value FOR metric IN (l_quantity, l_discount, l_tax))
         GROUP BY metric ORDER BY metric""",

    "q_explode" ->
      """WITH words AS (
           SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS word
           FROM documents)
         SELECT word, count(*) AS n FROM words WHERE word <> ''
         GROUP BY word ORDER BY n DESC, word ASC LIMIT 20""",

    "q_stats_agg" ->
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
         FROM a ORDER BY l_returnflag""",

    "q_range_join" ->
      """WITH buckets(lo, hi, label) AS (VALUES
           (0.0, 10.0, 'q1_small'), (10.0, 25.0, 'q2_mid'),
           (25.0, 40.0, 'q3_large'), (40.0, 1000000000.0, 'q4_huge'))
         SELECT label, count(*) AS n,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             AS sum_price
         FROM lineitem JOIN buckets ON l_quantity >= lo AND l_quantity < hi
         GROUP BY label ORDER BY label""",

    // identical result to q_range_join by construction (each matching
    // pair meets in exactly one bin — the point's), so the twin is shared
    "q_range_join_binned" ->
      """WITH buckets(lo, hi, label) AS (VALUES
           (0.0, 10.0, 'q1_small'), (10.0, 25.0, 'q2_mid'),
           (25.0, 40.0, 'q3_large'), (40.0, 1000000000.0, 'q4_huge'))
         SELECT label, count(*) AS n,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             AS sum_price
         FROM lineitem JOIN buckets ON l_quantity >= lo AND l_quantity < hi
         GROUP BY label ORDER BY label""",

    "q_fuzzy_join" ->
      """SELECT a.n_name AS name_a, b.n_name AS name_b,
           CAST(levenshtein(a.n_name, b.n_name) AS BIGINT) AS edit_dist
         FROM nation a JOIN nation b ON a.n_name < b.n_name
         WHERE levenshtein(a.n_name, b.n_name) <= 2
         ORDER BY name_a, name_b""",

    // full O(n²) exact twin: proves the FastSS deletion-variant candidate
    // generation loses no pair (same pattern as q_dedup_ngram's oracle)
    "q_fuzzy_join_docs" ->
      """WITH k AS (SELECT doc_id, substr(text, 1, 24) AS key FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.key, b.key) AS BIGINT) AS edit_dist
         FROM k a JOIN k b ON a.doc_id < b.doc_id
         WHERE levenshtein(a.key, b.key) <= 2
         ORDER BY id_a, id_b""",

    "q_vocab" ->
      """WITH u AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
           FROM documents)
         SELECT token, count(*) AS n, count(DISTINCT doc_id) AS df
         FROM u GROUP BY token
         ORDER BY n DESC, token LIMIT 100""",

    "q_tokenize" ->
      s"""WITH RECURSIVE vocab(p) AS (
            SELECT unnest([${subwordVocab.map(p => s"'$p'").mkString(",")}])),
          tw AS (SELECT word, n FROM (
             SELECT tok AS word, count(*) AS n FROM (
               SELECT unnest(string_split(text, ' ')) AS tok
               FROM documents) u
             WHERE tok <> '' GROUP BY tok
             ORDER BY n DESC, tok LIMIT 100) s),
          seg AS (
            SELECT word, CAST(1 AS INTEGER) AS pos,
                   CAST('' AS VARCHAR) AS pieces FROM tw
            UNION ALL
            SELECT s.word, CAST(s.pos + coalesce(length(m.p), 1) AS INTEGER),
                   s.pieces || CASE WHEN s.pieces = '' THEN '' ELSE ' ' END
                     || coalesce(m.p, '?')
            FROM seg s LEFT JOIN LATERAL (
                SELECT p FROM vocab
                WHERE p = substr(s.word, s.pos, length(p))
                ORDER BY length(p) DESC LIMIT 1) m ON true
            WHERE s.pos <= length(s.word)),
          done AS (SELECT word, pieces FROM seg
                   WHERE pos = length(word) + 1)
          SELECT t.word, d.pieces, t.n FROM tw t JOIN done d USING (word)
          ORDER BY t.n DESC, t.word""",

    "q_zorder" ->
      s"""SELECT o_orderkey,
            ${mortonSql16("o_custkey % 65536", "o_orderkey % 65536")} AS zcode
          FROM orders ORDER BY zcode, o_orderkey LIMIT 200""",

    "q_lm_fluency" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents),
         bg AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
                FROM d, unnest(generate_series(1, len(ws) - 1)) AS t(i)),
         ref AS (SELECT w1, w2, count(*) AS bg_n
                 FROM bg JOIN documents USING (doc_id)
                 WHERE lang = 'en' GROUP BY w1, w2),
         sc AS (SELECT bg.doc_id,
                  CAST(count(*) AS BIGINT) AS n_bigrams,
                  CAST(sum(coalesce(ref.bg_n, 0)) AS BIGINT) AS bg_total
                FROM bg LEFT JOIN ref USING (w1, w2)
                GROUP BY bg.doc_id)
         SELECT docs.doc_id,
           coalesce(sc.n_bigrams, 0) AS n_bigrams,
           CAST(sc.bg_total AS DOUBLE) / sc.n_bigrams AS fluency
         FROM documents docs LEFT JOIN sc ON docs.doc_id = sc.doc_id
         ORDER BY docs.doc_id""",

    "q_tfidf" ->
      """WITH words AS (
           SELECT doc_id,
             unnest(regexp_split_to_array(lower(text), '\s+')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS n_term FROM words
                WHERE term <> '' GROUP BY doc_id, term),
         dl AS (SELECT doc_id, sum(n_term) AS n_doc_terms FROM tf
                GROUP BY doc_id),
         dfq AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY term),
         nd AS (SELECT count(*) AS n_docs FROM dl),
         scored AS (
           SELECT tf.doc_id, tf.term,
             (CAST(n_term AS DOUBLE) / n_doc_terms)
               * (CAST(n_docs AS DOUBLE) / doc_freq) AS tfidf
           FROM tf JOIN dl USING (doc_id) JOIN dfq USING (term) CROSS JOIN nd)
         SELECT doc_id, term AS top_term, tfidf FROM (
           SELECT *, row_number() OVER (PARTITION BY doc_id
             ORDER BY tfidf DESC, term ASC) AS rn
           FROM scored) r
         WHERE rn = 1 ORDER BY doc_id""",

    // entropy twin: Σ c·ln(c) as ONE left fold over terms in ascending
    // order (list_reduce over an ORDER BY list) — the exact fold order
    // of the Spark side's sorted mapPartitions accumulator, so the
    // order-dependent double sum is bit-identical
    "q_entropy" ->
      """WITH words AS (
           SELECT source AS cls,
             unnest(regexp_split_to_array(lower(text), '\s+')) AS term
           FROM documents),
         tc AS (SELECT cls, term, count(*) AS c FROM words
                WHERE term <> '' GROUP BY cls, term),
         agg AS (
           SELECT cls,
             list_reduce(
               list(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
                    ORDER BY term),
               (a, b) -> a + b) AS clnc,
             sum(c) AS n, count(*) AS t
           FROM tc GROUP BY cls)
         SELECT cls AS source, CAST(t AS BIGINT) AS n_types,
           CAST(n AS BIGINT) AS n_tokens,
           ln(CAST(n AS DOUBLE)) - clnc / CAST(n AS DOUBLE) AS entropy
         FROM agg ORDER BY source""",

    // chi2 = n·(AD−BC)²/((A+B)(C+D)(A+C)(B+D)) with the SAME
    // left-associated cast/multiply/divide chain as the Spark column —
    // the four-way denominator product would overflow BIGINT, hence the
    // stepwise double divisions on both sides
    "q_chi2_terms" ->
      """WITH words AS (
           SELECT DISTINCT source AS cls, doc_id,
             unnest(regexp_split_to_array(lower(text), '\s+')) AS term
           FROM documents),
         tc AS (SELECT term, cls, count(*) AS a FROM words
                WHERE term <> '' GROUP BY term, cls),
         tt AS (SELECT term, sum(a) AS t_all FROM tc GROUP BY term),
         ct AS (SELECT source AS cls, count(*) AS c_all FROM documents
                GROUP BY source),
         nd AS (SELECT count(*) AS n FROM documents),
         cells AS (
           SELECT ct.cls, tt.term, coalesce(tc.a, 0) AS a, t_all, c_all, n,
             t_all - coalesce(tc.a, 0) AS b,
             c_all - coalesce(tc.a, 0) AS c,
             n - t_all - c_all + coalesce(tc.a, 0) AS d,
             coalesce(tc.a, 0) * (n - t_all - c_all + coalesce(tc.a, 0))
               - (t_all - coalesce(tc.a, 0)) * (c_all - coalesce(tc.a, 0))
               AS adbc
           FROM tt CROSS JOIN ct
             LEFT JOIN tc ON tc.term = tt.term AND tc.cls = ct.cls
             CROSS JOIN nd
           WHERE t_all >= 5 AND t_all < n),
         scored AS (
           SELECT cls, term, a,
             CAST(n AS DOUBLE) * CAST(adbc AS DOUBLE) * CAST(adbc AS DOUBLE)
               / CAST(a + b AS DOUBLE) / CAST(c + d AS DOUBLE)
               / CAST(a + c AS DOUBLE) / CAST(b + d AS DOUBLE) AS chi2
           FROM cells)
         SELECT cls AS source, term, CAST(a AS BIGINT) AS n_docs, chi2,
           CAST(rn AS BIGINT) AS rn
         FROM (SELECT *, row_number() OVER (PARTITION BY cls
                 ORDER BY chi2 DESC, term ASC) AS rn FROM scored) r
         WHERE rn <= 3 ORDER BY source, rn""",

    "q_lateral" ->
      """SELECT n_name, t.c_name, t.c_acctbal
         FROM nation, LATERAL (
           SELECT c_name, c_acctbal FROM customer
           WHERE c_nationkey = n_nationkey
           ORDER BY c_acctbal DESC, c_name LIMIT 2) t
         ORDER BY n_name, c_acctbal DESC, c_name""",

    "q_date_spine" ->
      """WITH b AS (SELECT CAST(min(o_orderdate) AS DATE) AS d0,
             CAST(max(o_orderdate) AS DATE) AS d1 FROM orders),
         days AS (SELECT CAST(unnest(generate_series(
             CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
             INTERVAL 1 DAY)) AS DATE) AS day FROM b),
         daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
             count(*) AS n_orders FROM orders GROUP BY 1)
         SELECT count(*) AS n_days, count(n_orders) AS n_days_with_orders,
           count(*) - count(n_orders) AS n_gap_days
         FROM days LEFT JOIN daily USING (day)""",

    "q_subquery_in" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders
                             WHERE o_totalprice > 400000.0)
           AND c_custkey NOT IN (SELECT o_custkey FROM orders
                                 WHERE o_orderpriority LIKE '%5%')
         ORDER BY c_custkey""",

    "q_string_pad" ->
      """SELECT n_nationkey,
           lpad(n_name, 12, '*') AS padded_l,
           rpad(n_name, 12, '*') AS padded_r,
           reverse(n_name) AS rev_name,
           replace(n_name, 'NATION', 'NAT') AS shortened,
           CAST(strpos(n_name, '_') AS INTEGER) AS sep_pos,
           split_part(n_name, '_', 2) AS num_part,
           repeat(n_name, 2) AS doubled
         FROM nation ORDER BY n_nationkey""",

    "q_agg_bool" ->
      """SELECT o_orderstatus,
           CAST(count_if(o_totalprice > 200000.0) AS BIGINT) AS n_big,
           bool_and(o_totalprice > 0.0) AS all_positive,
           bool_or(o_orderpriority LIKE '%1%') AS any_urgent,
           max_by(o_custkey, o_orderkey) AS latest_cust,
           min_by(o_custkey, o_orderkey) AS first_cust
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q_agg_filter" ->
      """SELECT o_orderstatus,
           count(*) FILTER (WHERE o_totalprice > 200000.0) AS n_big,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
             FILTER (WHERE o_orderpriority LIKE '%1%') AS DOUBLE)
             AS urgent_total
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q_sliding_window" ->
      """WITH hits AS (
           SELECT make_timestamp(((epoch_ms(ts) // 900000) - k.k)
               * 900000 * 1000) AS w_start,
             event_type
           FROM events, (SELECT unnest(generate_series(0, 3)) AS k) k)
         SELECT w_start, w_start + INTERVAL 1 HOUR AS w_end, event_type,
           count(*) AS n_events
         FROM hits GROUP BY w_start, event_type
         ORDER BY w_start, event_type""",

    // Gopher repetition signals recomputed from scratch: per-doc word and
    // n-gram multisets via unnest, the top bigram by (count DESC, gram
    // ASC) — the same deterministic tie-break as the engine's struct sort
    "q_repetition" ->
      """WITH tk AS (SELECT doc_id, text,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         base AS (SELECT doc_id, text, toks, len(toks) AS n FROM tk),
         g2 AS (SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS g
                FROM base, unnest(generate_series(1, n - 1)) AS t(i)
                WHERE n >= 2),
         t2 AS (SELECT doc_id, g, c FROM (
                  SELECT doc_id, g, count(*) AS c,
                    row_number() OVER (PARTITION BY doc_id
                      ORDER BY count(*) DESC, g ASC) AS rn
                  FROM g2 GROUP BY doc_id, g) WHERE rn = 1),
         g5 AS (SELECT doc_id,
                  toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
                    || toks[i+3] || ' ' || toks[i+4] AS g
                FROM base, unnest(generate_series(1, n - 4)) AS t(i)
                WHERE n >= 5),
         d5 AS (SELECT doc_id, count(*) AS total5,
                  count(DISTINCT g) AS dist5
                FROM g5 GROUP BY doc_id)
         SELECT b.doc_id,
           CAST(b.n AS BIGINT) AS n_words,
           round(CASE WHEN b.n = 0 THEN 0.0
                 ELSE 1.0 - CAST(len(list_distinct(b.toks)) AS DOUBLE)
                      / CAST(b.n AS DOUBLE) END, 6) AS dup_word_frac,
           coalesce(t2.g, '') AS top_bigram,
           CAST(coalesce(t2.c, 0) AS BIGINT) AS top_bigram_n,
           round(CASE WHEN b.n < 2 OR length(b.text) = 0 THEN 0.0
                 ELSE CAST(t2.c * length(t2.g) AS DOUBLE)
                      / CAST(length(b.text) AS DOUBLE) END, 6)
             AS top_bigram_char_frac,
           round(CASE WHEN coalesce(d5.total5, 0) = 0 THEN 0.0
                 ELSE 1.0 - CAST(d5.dist5 AS DOUBLE)
                      / CAST(d5.total5 AS DOUBLE) END, 6) AS dup_5gram_frac
         FROM base b LEFT JOIN t2 USING (doc_id) LEFT JOIN d5 USING (doc_id)
         ORDER BY doc_id""",

    // the same regexp chain (Java/RE2-common subset) — DuckDB replaces
    // only the first match by default, so every replace carries 'g'
    "q_url_canon" ->
      """WITH u AS (SELECT doc_id,
             'HTTPS://WWW.Example' || CAST(doc_id % 7 AS VARCHAR)
               || '.COM:443/Docs/' || CAST(doc_id AS VARCHAR)
               || '?utm_source=feed&utm_campaign=c' || CAST(doc_id AS VARCHAR)
               || '&ref=' || CAST(doc_id AS VARCHAR)
               || '&gclid=g1#Sec' || CAST(doc_id AS VARCHAR) AS url
           FROM documents),
         parts AS (SELECT doc_id,
             lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
               AS scheme,
             regexp_replace(lower(regexp_extract(url,
                 '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
               ':(80|443)$', '') AS host,
             regexp_extract(url,
               '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1) AS rest
           FROM u),
         cleaned AS (SELECT doc_id, scheme, host,
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(rest,
                     '&(utm_[A-Za-z0-9_]*|gclid|fbclid)=[^&]*', '', 'g'),
                   '\?(utm_[A-Za-z0-9_]*|gclid|fbclid)=[^&]*&', '?', 'g'),
                 '\?(utm_[A-Za-z0-9_]*|gclid|fbclid)=[^&]*$', '', 'g'),
               '\?$', '', 'g') AS pathq
           FROM parts)
         SELECT doc_id,
           scheme || '://' || host ||
             (CASE WHEN pathq = '/' THEN '' ELSE pathq END) AS url_canon,
           host
         FROM cleaned ORDER BY doc_id""",

    "q_window_stats" ->
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
         ORDER BY o_custkey, o_orderkey""",

    // full PQ twin: per-subspace deterministic k-means + codes + ADC
    "q_ann_ivfpq" -> ivfPqTwin(m = 4, sub = 16, k = 8, nQueries = 10,
      topk = 5, nprobe = 2),

    // stored-PQ serving: integer codes and float codebooks/centroids are
    // parquet-exact, so the disk probe equals q_ann_ivfpq bit-for-bit
    // and the twin is shared verbatim (the q_ann_stored_index trade)
    "q_ann_stored_pq" -> ivfPqTwin(m = 4, sub = 16, k = 8, nQueries = 10,
      topk = 5, nprobe = 2),
    "q_ann_pq" -> pqFullTwin(m = 4, sub = 16, k = 8, nQueries = 10,
      topk = 5),

    // the same PQ chain ranked by ADC, intersected with exact cosine
    "q_pq_recall" -> pqRecallTwin(m = 4, sub = 16, k = 8, nQueries = 10,
      topk = 5),

    "q_host_quota" ->
      """WITH d AS (SELECT doc_id,
             regexp_replace(lower(regexp_extract(
                 'https://Host' || CAST(doc_id % 5 AS VARCHAR)
                   || '.Example.COM/page/' || CAST(doc_id AS VARCHAR),
                 '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
               ':(80|443)$', '') AS host,
             length(text) AS n_chars
           FROM documents),
         ranked AS (SELECT doc_id, host, n_chars,
             CAST(row_number() OVER (PARTITION BY host
               ORDER BY n_chars DESC, doc_id ASC) AS BIGINT) AS host_rank
           FROM d)
         SELECT doc_id, host, n_chars, host_rank FROM ranked
         WHERE host_rank <= 20 ORDER BY host, host_rank""",

    // BM25 twin — every double expression shaped EXACTLY like the engine's
    // (idf * (tf*2.2)) / (tf + 1.2*(0.25 + 0.75*(dl/avgdl))); each doc
    // sums at most 2 addends, so the sum is order-independent
    "q_bm25" ->
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
             JOIN dl USING (doc_id) CROSS JOIN stats s)
         SELECT doc_id, round(sum(c), 6) AS bm25
         FROM contrib GROUP BY doc_id
         ORDER BY bm25 DESC, doc_id ASC LIMIT 20""",

    // recursive-CTE replay of the level-synchronous BFS: every path of
    // <= 4 hops enumerated, min(hop) per node = the BFS first-visit level
    // 3 unrolled synchronous label-prop rounds (see labelPropTwin)
    "q_label_prop" -> labelPropTwin(3),

    "q_bfs" ->
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
         GROUP BY node_id ORDER BY node_id""",

    // same BM25 CTE chain at top-50, cosine list for query vec 0 at
    // top-50, then the identical one-expression RRF fuse (k=60)
    "q_rrf_hybrid" ->
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
         ORDER BY rrf DESC, doc_id ASC LIMIT 20""",

    // k-means prefix (bit-deterministic, shared with q_ann_ivf) then
    // exact cosine ranks WITHIN each a1 cell — the blocked k-NN graph
    "q_knn_graph" -> knnGraphTwinSql,

    // the auto-gated build picks ceil(n/256) >= 8 cells — 8 at this gate
    // scale, so the twin is q_knn_graph's k-means replay, SHARED as one
    // val so the pair can never desync (the q_dedup_autocap oracle
    // trade: the gate's REFUSAL branch is exercised by IvfSpec and the
    // 100x stress, not the oracle)
    "q_knn_graph_auto" -> knnGraphTwinSql,

    // PMI over adjacent-token bigrams with the identical one-expression
    // double shape ln((c_xy*T*T) / (B*c_x*c_y))
    "q_pmi" ->
      """WITH toks AS (SELECT list_filter(string_split(text, ' '),
             x -> x <> '') AS tk FROM documents),
         bigrams AS (
           SELECT tk[i] AS w1, tk[i + 1] AS w2
           FROM toks, unnest(generate_series(1, len(tk) - 1)) AS t(i)
           WHERE len(tk) > 1),
         unic AS (SELECT w, count(*) AS c FROM (
             SELECT unnest(tk) AS w FROM toks) GROUP BY w),
         bg AS (SELECT w1, w2, count(*) AS c_xy FROM bigrams
                GROUP BY w1, w2 HAVING count(*) >= 5),
         totals AS (SELECT CAST(sum(len(tk)) AS BIGINT) AS t_uni,
             CAST(sum(greatest(len(tk) - 1, 0)) AS BIGINT) AS b_tot
           FROM toks)
         SELECT bg.w1, bg.w2, bg.c_xy,
           round(ln((CAST(bg.c_xy AS DOUBLE) * t.t_uni * t.t_uni)
                  / (CAST(t.b_tot AS DOUBLE) * u1.c * u2.c)), 6) AS pmi
         FROM bg JOIN unic u1 ON bg.w1 = u1.w
           JOIN unic u2 ON bg.w2 = u2.w
           CROSS JOIN totals t
         ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT 20""",

    // Kneser–Ney bigram table: every probability input is an exact
    // integer count; the one double expression mirrors Spark's
    // cast/precedence shape term for term (CAST literals to DOUBLE —
    // bare 0.75 is DECIMAL in DuckDB)
    "q_kn_lm" -> knLmTwinSql,
    // same table through the §2.6 SQL front door -> same oracle
    "q_sql_kn_lm" -> knLmTwinSql,

    // trigram KN twin: the same nested interpolation over trigram-type
    // continuation counts, shape-mirrored casts throughout
    "q_kn_trigram" ->
      """WITH toks AS (SELECT list_filter(string_split(text, ' '),
             x -> x <> '') AS tk FROM documents),
         trigrams AS (
           SELECT tk[i] AS w1, tk[i + 1] AS w2, tk[i + 2] AS w3
           FROM toks, unnest(generate_series(1, len(tk) - 2)) AS t(i)
           WHERE len(tk) > 2),
         tg AS (SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c123
                FROM trigrams GROUP BY w1, w2, w3),
         ctx12 AS (SELECT w1, w2, CAST(sum(c123) AS BIGINT) AS c12,
             CAST(count(*) AS BIGINT) AS nf12 FROM tg GROUP BY w1, w2),
         cont23 AS (SELECT w2, w3, CAST(count(*) AS BIGINT) AS cont23
                    FROM tg GROUP BY w2, w3),
         ctx2 AS (SELECT w2, CAST(sum(cont23) AS BIGINT) AS cont2,
             CAST(count(*) AS BIGINT) AS nf2 FROM cont23 GROUP BY w2),
         cont3 AS (SELECT w3, CAST(count(*) AS BIGINT) AS cont3
                   FROM cont23 GROUP BY w3),
         btot AS (SELECT CAST(count(*) AS BIGINT) AS b23 FROM cont23)
         SELECT tg.w1, tg.w2, tg.w3, tg.c123, ctx12.c12, ctx12.nf12,
           cont23.cont23, ctx2.cont2, ctx2.nf2, cont3.cont3,
           round(greatest(CAST(tg.c123 AS DOUBLE) - CAST(0.75 AS DOUBLE),
               CAST(0 AS DOUBLE)) / CAST(ctx12.c12 AS DOUBLE)
             + CAST(0.75 AS DOUBLE) * CAST(ctx12.nf12 AS DOUBLE)
               / CAST(ctx12.c12 AS DOUBLE)
               * (greatest(CAST(cont23.cont23 AS DOUBLE)
                     - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE))
                   / CAST(ctx2.cont2 AS DOUBLE)
                 + CAST(0.75 AS DOUBLE) * CAST(ctx2.nf2 AS DOUBLE)
                   / CAST(ctx2.cont2 AS DOUBLE)
                   * (CAST(cont3.cont3 AS DOUBLE)
                     / CAST(btot.b23 AS DOUBLE))), 6) AS p_kn,
           btot.b23, CAST(0.75 AS DOUBLE) AS discount
         FROM tg JOIN ctx12 USING (w1, w2) JOIN cont23 USING (w2, w3)
           JOIN ctx2 USING (w2) JOIN cont3 USING (w3) CROSS JOIN btot
         WHERE tg.c123 >= 5
         ORDER BY w1, w2, w3""",

    // deeper-backoff trigram scorer twin (shared P2 snippet keeps the
    // two CASE branches textually identical)
    "q_kn_trigram_ppl" -> knTrigramPplTwinSql,

    // KN scorer twin: model CTE at minCount=1 (same rounded p_kn), then
    // the seen / context-backoff / OOV-floor chain per scored bigram;
    // DECIMAL(28,6) log-prob sums keep the fold order-independent
    "q_kn_perplexity" -> knPerplexityTwinSql,

    // stored-model scoring: parquet round-trips every model column
    // exactly (longs; p_kn already rounded to 6dp before the write), so
    // scoring FROM the stored table is value-identical to scoring the
    // in-memory model — one twin serves both
    "q_kn_score_stored" -> knPerplexityTwinSql,

    // same stored-model argument one order up: the trigram model's
    // extra columns are longs + literal doubles, all parquet-exact
    "q_kn_trigram_score_stored" -> knTrigramPplTwinSql,

    // full power-iteration replay with engine-shaped double arithmetic
    "q_pagerank" -> pageRankTwin(iters = 3),

    // same replay with seed-personalized teleport (TrustRank)
    "q_trustrank" -> trustRankTwin(iters = 3),

    // two staged HITS rounds in exact BIGINT arithmetic (sum cast back
    // from DuckDB's HUGEINT to match Spark's long sums)
    "q_hits" ->
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
         FROM a2 JOIN h2 USING (node_id) ORDER BY node_id""",

    // exact token top-10; the sketch bound flags are invariantly TRUE
    "q_heavy_hitters" ->
      """WITH toks AS (SELECT unnest(list_filter(string_split(text, ' '),
             x -> x <> '')) AS tok FROM documents),
         cnt AS (SELECT tok, count(*) AS n_exact FROM toks GROUP BY tok)
         SELECT tok, n_exact, TRUE AS within_bound
         FROM cnt ORDER BY n_exact DESC, tok ASC LIMIT 10""",

    // first-occurrence strict-order funnel: stage per user, then a
    // lateral fan-out of at most |steps| rows per user
    "q_funnel" ->
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
         FROM counts c CROSS JOIN fst f ORDER BY c.step_idx""",

    // Monday-week cohorts x week offset over deduped user-weeks
    "q_cohort" ->
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
         ORDER BY cohort_week, week_offset""",

    // exact DECIMAL moments, identical double shapes for mean/sd/z, and
    // the same division-free outlier predicate
    "q_outliers" ->
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
         ORDER BY e.event_type, e.event_id""",

    // same decile boundaries from quantile_cont (bit-identical to
    // Spark's percentile), same boundaries-strictly-below-x bucket fold
    "q_equidepth" ->
      """WITH bounds AS (SELECT quantile_cont(o_totalprice,
             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs
           FROM orders WHERE o_totalprice IS NOT NULL),
         bk AS (SELECT CAST(list_sum(list_transform(b.bs,
             x -> CASE WHEN o.o_totalprice > x THEN 1 ELSE 0 END))
               AS BIGINT) AS bucket
           FROM orders o CROSS JOIN bounds b
           WHERE o.o_totalprice IS NOT NULL)
         SELECT bucket, count(*) AS n FROM bk
         GROUP BY bucket ORDER BY bucket""",

    // same histogram + cumulative self-join + exact long→double quotients
    "q_quantile_normalize" ->
      """WITH h AS (SELECT l_quantity, CAST(count(*) AS BIGINT) AS n
           FROM lineitem GROUP BY 1),
         c AS (SELECT a.l_quantity, max(a.n) AS n,
             CAST(sum(b.n) AS BIGINT) AS cum
           FROM h a JOIN h b ON b.l_quantity <= a.l_quantity GROUP BY 1),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM h)
         SELECT l_quantity, n, cum,
           CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) AS cdf,
           CAST(cum - n AS DOUBLE) / CAST(total AS DOUBLE) AS cdf_lower
         FROM c, t ORDER BY l_quantity""",

    // identical BIGINT hash-threshold keep rule, identical token counts
    "q_importance_sample" ->
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
         FROM k GROUP BY source ORDER BY source""",

    // identical clamp+floor bucket expression over the same [0, 500000)
    // range in 20 bins
    "q_histogram" ->
      """WITH b AS (SELECT least(greatest(
             CAST(floor((o_totalprice - CAST(0.0 AS DOUBLE))
               / CAST(25000.0 AS DOUBLE)) AS BIGINT), 0), 19) AS bucket
           FROM orders WHERE o_totalprice IS NOT NULL)
         SELECT bucket,
           CAST(0.0 AS DOUBLE) + CAST(bucket AS DOUBLE)
             * CAST(25000.0 AS DOUBLE) AS lo_edge,
           count(*) AS n
         FROM b GROUP BY bucket ORDER BY bucket""",

    // same ring+skip+affine synthetic graph as the engine query; the
    // oriented wedge join replayed relationally (orientation = (deg, id)
    // lexicographic order)
    "q_triangles" ->
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
         GROUP BY node_id ORDER BY node_id""",

    // q_triangles' count CTEs + degree normalization
    "q_clustering_coef" ->
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
         ORDER BY node_id""",

    // the full recompute the IVM delta must reproduce
    "q_incremental_join" ->
      """SELECT o_orderpriority, count(*) AS n_rows,
           CAST(sum(CAST(l_quantity AS DECIMAL(22,2))) AS DOUBLE) AS sum_qty
         FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         GROUP BY 1 ORDER BY 1""",

    // hash32 parity replayed in integer SQL (the split twin's hash),
    // lift as one quotient of exact cross products
    "q_ab_lift" ->
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
         FROM a, b""",

    // lead-window candidate pairs inside prefix blocks + the string-gram
    // Jaccard of the ngram twin
    "q_sorted_neighborhood" ->
      """WITH slim AS (SELECT doc_id AS id, substr(text, 1, 12) AS skey,
             substr(text, 1, 2) AS block
           FROM documents),
         nb AS (SELECT id AS id_x,
             lead(id, 1) OVER w AS n1, lead(id, 2) OVER w AS n2,
             lead(id, 3) OVER w AS n3
           FROM slim WINDOW w AS (PARTITION BY block ORDER BY skey, id)),
         prs AS (SELECT DISTINCT least(id_x, y) AS id_a,
             greatest(id_x, y) AS id_b
           FROM nb, unnest([n1, n2, n3]) AS t(y) WHERE y IS NOT NULL),
         toks AS (SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[ \n\t\r]+'),
               x -> x <> '') AS tk
           FROM documents),
         grams AS (SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(tk) - 2, 0)),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS gs
           FROM toks),
         j AS (SELECT p.id_a, p.id_b,
             CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) /
               (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs)))
               AS jaccard
           FROM prs p JOIN grams a ON a.doc_id = p.id_a
             JOIN grams b ON b.doc_id = p.id_b
           WHERE len(a.gs) > 0 AND len(b.gs) > 0)
         SELECT id_a, id_b, jaccard FROM j
         WHERE jaccard >= 0.5 ORDER BY id_a, id_b""",

    "q_keywords" ->
      """WITH toks AS (SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(text, '[ \n\t\r]+'),
               x -> x <> '')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         r AS (SELECT doc_id, term, tf, df,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY tf DESC, df ASC, term ASC) AS rnk
           FROM tf JOIN dfq USING (term))
         SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
           CAST(df AS BIGINT) AS df, CAST(rnk AS BIGINT) AS rnk
         FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""",

    // duplicate = text seen under a smaller doc_id anywhere; charged to
    // the later doc's source
    "q_dedup_report" ->
      """WITH f AS (SELECT text, min(doc_id) AS keeper FROM documents
           GROUP BY text)
         SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN d.doc_id <> f.keeper THEN 1 ELSE 0 END)
             AS BIGINT) AS n_dups,
           CAST(sum(CASE WHEN d.doc_id <> f.keeper THEN 1 ELSE 0 END)
             AS DOUBLE) / CAST(count(*) AS DOUBLE) AS dup_rate
         FROM documents d JOIN f ON d.text = f.text
         GROUP BY d.source ORDER BY d.source""",

    // row-exact range result; `skipped` is the pruning claim the engine
    // must back with a manifest read of fewer-than-all files
    "q_manifest_skip" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(22,2))) AS DOUBLE)
             AS sum_price,
           true AS skipped
         FROM orders
         WHERE o_totalprice BETWEEN 100000.0 AND 150000.0
         GROUP BY 1 ORDER BY 1""",

    // the identical ordered fold: per (label, dim), doubles summed in
    // vec_id order, /n, cast FLOAT (the m1 pattern of the k-means twin)
    "q_mean_pool" ->
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
         FROM m ORDER BY label, pos""",

    // prototype fold + the a1-style argmax assignment + exact accuracy
    "q_prototype_accuracy" ->
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
         FROM asg GROUP BY 1 ORDER BY 1""",

    // two half-corpus folds + one cosine per label
    "q_embed_drift" ->
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
         FROM pa JOIN pb USING (label) ORDER BY label""",

    // the q_text_quality heuristic CTEs + a 2-key count
    "q_lang_confusion" -> (qualityCtes +
      """
         SELECT d.lang, q.lang_pred, CAST(count(*) AS BIGINT) AS n
         FROM documents d JOIN q ON q.doc_id = d.doc_id
         GROUP BY 1, 2 ORDER BY 1, 2"""),

    // the split twin's two-limb hash over integer feature codes
    "q_feature_hash" ->
      (s"""WITH f AS (
           SELECT doc_id, 1000 + (CASE lang WHEN 'en' THEN 0
             WHEN 'de' THEN 1 WHEN 'es' THEN 2 WHEN 'fr' THEN 3
             ELSE 4 END) AS code
           FROM documents
           UNION ALL
           SELECT doc_id,
             2000 + CAST(regexp_extract(source, '([0-9]+)$$', 1) AS BIGINT)
           FROM documents
           UNION ALL
           SELECT doc_id, 3000 + n_chars // 100 FROM documents)
         SELECT doc_id, CAST(code AS BIGINT) AS code,
           CAST(${hash32Sql("code")} % 32 AS BIGINT) AS bucket,
           CAST(1 - 2 * (${hash32Sql("code")} % 2) AS BIGINT) AS sign
         FROM f ORDER BY doc_id, code"""),

    // cross-multiplied balance gate, same hash as the split twin
    "q_split_balance" ->
      (s"""WITH s AS (
           SELECT lang,
             CASE WHEN ${hash32Sql("doc_id")} % 100 < 80
               THEN 'train' ELSE 'eval' END AS split
           FROM documents),
         per AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_s,
             CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
               AS BIGINT) AS train_s
           FROM s GROUP BY lang),
         tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n,
             CAST(sum(train_s) AS BIGINT) AS train FROM per)
         SELECT per.lang, per.n_s, per.train_s, tot.n, tot.train,
           abs(per.train_s * tot.n - tot.train * per.n_s) * 100
             <= 5 * tot.n * per.n_s AS balanced
         FROM per, tot ORDER BY per.lang"""),

    // one global cumsum window in the same total order; kept gate on longs
    "q_budget_select" ->
      """WITH d AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS score,
             CAST(length(regexp_extract_all(text, '\S+')) AS BIGINT)
               AS n_tokens
           FROM documents)
         SELECT doc_id, score, n_tokens,
           CAST(sum(n_tokens) OVER (ORDER BY score DESC, doc_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_tokens,
           CAST(sum(n_tokens) OVER (ORDER BY score DESC, doc_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) <= 6000 AS kept
         FROM d ORDER BY doc_id""",

    // exact max-cosine against the broadcast benchmark set; max over
    // doubles is order-independent
    "q_semantic_decontaminate" ->
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
         FROM s ORDER BY vec_id""",

    // confusion counts from the quality CTEs; kappa =
    // (agree·n − pe_num) / (n² − pe_num) with integer numerators
    "q_kappa" -> (qualityCtes +
      """,
         cm AS (SELECT d.lang, q.lang_pred AS pred, count(*) AS cnt
           FROM documents d JOIN q ON q.doc_id = d.doc_id GROUP BY 1, 2),
         t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM cm),
         ag AS (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS agree
           FROM cm WHERE lang = pred),
         rm AS (SELECT lang, sum(cnt) AS row_n FROM cm GROUP BY 1),
         colm AS (SELECT pred, sum(cnt) AS col_n FROM cm GROUP BY 1),
         pe AS (SELECT CAST(coalesce(sum(rm.row_n * colm.col_n), 0)
             AS BIGINT) AS pe_num
           FROM rm JOIN colm ON rm.lang = colm.pred)
         SELECT t.n, ag.agree, pe.pe_num,
           (CAST(ag.agree AS DOUBLE) * CAST(t.n AS DOUBLE)
             - CAST(pe.pe_num AS DOUBLE))
           / (CAST(t.n AS DOUBLE) * CAST(t.n AS DOUBLE)
             - CAST(pe.pe_num AS DOUBLE)) AS kappa
         FROM t, ag, pe"""),

    "q_reciprocity" ->
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
         FROM t, m""",

    // the direct daily aggregate the hourly cascade must reproduce
    "q_reagg_cascade" ->
      """SELECT event_type, date_trunc('day', ts) AS day,
           CAST(count(*) AS BIGINT) AS n,
           CAST(CAST(sum(CAST(value AS DECIMAL(22,2))) AS DECIMAL(22,2))
             AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY event_type, day""",

    "q_attribution" ->
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
         GROUP BY 1 ORDER BY item""",

    "q_degree_dist" ->
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
         FROM deg GROUP BY 1 ORDER BY deg""",

    // per-source rank by (n_tok DESC, doc_id), interleaved by (rnk, source)
    "q_curriculum" ->
      """WITH d AS (SELECT doc_id, source,
             CAST(length(regexp_extract_all(text, '\S+')) AS BIGINT)
               AS n_tok
           FROM documents),
         r AS (SELECT doc_id, source, n_tok,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY n_tok DESC, doc_id) AS BIGINT) AS rnk
           FROM d),
         g AS (SELECT doc_id, source, n_tok, rnk,
             CAST(row_number() OVER (ORDER BY rnk, source) AS BIGINT)
               AS pos
           FROM r)
         SELECT pos, doc_id, source, rnk, n_tok FROM g
         WHERE pos <= 50 ORDER BY pos""",

    // weight = total/(S·tokens) with the identical double tree; the
    // integer ceil uses // on positive BIGINTs (Spark `div` twin)
    "q_mixture_weights" ->
      """WITH per AS (SELECT source,
             CAST(sum(length(regexp_extract_all(text, '\S+'))) AS BIGINT)
               AS tokens
           FROM documents GROUP BY 1),
         t AS (SELECT CAST(sum(tokens) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_sources FROM per)
         SELECT source, tokens,
           CAST(tokens AS DOUBLE) / CAST(total AS DOUBLE) AS actual_share,
           CAST(total AS DOUBLE) /
             (CAST(n_sources AS DOUBLE) * CAST(tokens AS DOUBLE)) AS weight,
           CAST((total + n_sources * tokens - 1) // (n_sources * tokens)
             AS BIGINT) AS repeat_factor
         FROM per, t ORDER BY source""",

    // the watermarked streaming dedup's surviving key set equals batch
    // distinct when everything lands in one micro-batch (see query doc)
    "q_stream_dedup" ->
      """SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_keys
         FROM events GROUP BY event_type ORDER BY event_type""",

    // the streaming inner interval join on a finite stream equals the
    // batch join — the twin is that batch join, aggregated
    "q_stream_join" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT c.user_id) AS BIGINT) AS n_users
         FROM events c JOIN events v
           ON c.user_id = v.user_id
          AND CAST(v.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
          AND CAST(v.ts AS TIMESTAMP)
              <= CAST(c.ts AS TIMESTAMP) + INTERVAL 10 MINUTE
         WHERE c.event_type = 'click' AND v.event_type = 'view'
           AND c.user_id % 4 = 0 AND v.user_id % 4 = 0""",

    // streaming-near-dup twin: the q_dedup_simhash bit replay, chunk
    // values rebuilt as Σ bits[16i+j]·2^(j−1) in BIGINT shifts, then
    // the same hot-bucket census; a finite Complete-mode stream equals
    // this batch result exactly
    "q_stream_neardup" -> (simhashBitsCte +
      """,
         ch AS (
           SELECT sh.doc_id, t.i AS chunk_id,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(generate_series(1, 16),
                 j -> CAST(bits[t.i * 16 + j] AS BIGINT)
                   * (CAST(1 AS BIGINT) << (j - 1)))),
               (a, b) -> a + b) AS chunk_val
           FROM sh, unnest(generate_series(0, 3)) AS t(i)),
         g AS (SELECT chunk_id, chunk_val, count(*) AS c
           FROM ch GROUP BY 1, 2)
         SELECT CAST(count(*) AS BIGINT) AS n_hot_buckets,
           CAST(sum(c * (c - 1)) // 2 AS BIGINT) AS n_candidate_pairs
         FROM g WHERE c > 1"""),

    // watermark-semantics replay: wm1 = phase-1 max(ts) − 30min decides
    // which phase-2 stragglers the engine DROPPED (window end <= wm1);
    // wm2 = overall max(ts) − 30min decides which windows were ever
    // EMITTED (end <= wm2). Counts sum on-time + surviving-late rows.
    // ts cast to TIMESTAMP (micros) to match the engine's precision.
    // Both watermarks are epoch-guarded: an EMPTY phase subset leaves
    // the engine's watermark at its initial value (drop nothing) — a
    // NULL max(ts) here would instead drop EVERYTHING in c2, a silent
    // data-dependent divergence
    "q_stream_late" ->
      """WITH f1 AS (
           SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
           WHERE user_id % 2 = 0
             AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-01 04:00:00'),
         f2 AS (
           SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
           WHERE (user_id % 2 = 1
               AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-01 04:00:00')
             OR (CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-01 04:00:00'
               AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-01 06:00:00')),
         w1 AS (SELECT coalesce(max(ts) - INTERVAL 30 MINUTE,
             TIMESTAMP '1970-01-01') AS wm FROM f1),
         w2 AS (SELECT coalesce(max(ts) - INTERVAL 30 MINUTE,
             TIMESTAMP '1970-01-01') AS wm FROM
           (SELECT ts FROM f1 UNION ALL SELECT ts FROM f2)),
         c1 AS (SELECT date_trunc('hour', ts) AS ws, event_type,
             count(*) AS n
           FROM f1 GROUP BY 1, 2),
         c2 AS (SELECT date_trunc('hour', ts) AS ws, event_type,
             count(*) AS n
           FROM f2, w1
           WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR > w1.wm
           GROUP BY 1, 2),
         u AS (SELECT ws, event_type, CAST(sum(n) AS BIGINT) AS n
           FROM (SELECT * FROM c1 UNION ALL SELECT * FROM c2)
           GROUP BY 1, 2)
         SELECT u.ws AS window_start, u.event_type, u.n
         FROM u, w2 WHERE u.ws + INTERVAL 1 HOUR <= w2.wm
         ORDER BY 1, 2""",

    // survivor = global min doc_id per text (the q_dedup_exact policy)
    "q_dedup_rate" ->
      """WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents
           GROUP BY text),
         pa AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY 1),
         pk AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_kept
           FROM documents d JOIN keep k ON d.doc_id = k.doc_id
           GROUP BY 1)
         SELECT pa.source, pa.n_docs,
           CAST(COALESCE(pk.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(pa.n_docs - COALESCE(pk.n_kept, 0) AS DOUBLE) /
             CAST(pa.n_docs AS DOUBLE) AS dup_rate
         FROM pa LEFT JOIN pk ON pa.source = pk.source
         ORDER BY pa.source""",

    // SQL-front-door variants: same twins as their DataFrame originals
    "q_sql_mixture_weights" ->
      """WITH per AS (SELECT source,
             CAST(sum(length(regexp_extract_all(text, '\S+'))) AS BIGINT)
               AS tokens
           FROM documents GROUP BY 1),
         t AS (SELECT CAST(sum(tokens) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_sources FROM per)
         SELECT source, tokens,
           CAST(tokens AS DOUBLE) / CAST(total AS DOUBLE) AS actual_share,
           CAST(total AS DOUBLE) /
             (CAST(n_sources AS DOUBLE) * CAST(tokens AS DOUBLE)) AS weight,
           CAST((total + n_sources * tokens - 1) // (n_sources * tokens)
             AS BIGINT) AS repeat_factor
         FROM per, t ORDER BY source""",

    "q_sql_dedup_rate" ->
      """WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents
           GROUP BY text),
         pa AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY 1),
         pk AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_kept
           FROM documents d JOIN keep k ON d.doc_id = k.doc_id
           GROUP BY 1)
         SELECT pa.source, pa.n_docs,
           CAST(COALESCE(pk.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(pa.n_docs - COALESCE(pk.n_kept, 0) AS DOUBLE) /
             CAST(pa.n_docs AS DOUBLE) AS dup_rate
         FROM pa LEFT JOIN pk ON pa.source = pk.source
         ORDER BY pa.source""",

    // |A∩B|/|A| over distinct whitespace-token vocabularies per source
    "q_vocab_overlap" ->
      """WITH tk AS (SELECT DISTINCT source, tok FROM (
             SELECT source, unnest(list_filter(
               regexp_split_to_array(text, '[ \n\t\r]+'), x -> x <> ''))
               AS tok
             FROM documents)),
         sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n_types_a
           FROM tk GROUP BY 1),
         pr AS (SELECT a.source AS src_a, b.source AS src_b,
             CAST(count(*) AS BIGINT) AS n_shared
           FROM tk a JOIN tk b ON a.tok = b.tok AND a.source <> b.source
           GROUP BY 1, 2)
         SELECT pr.src_a, pr.src_b, pr.n_shared, sz.n_types_a,
           CAST(pr.n_shared AS DOUBLE) / CAST(sz.n_types_a AS DOUBLE)
             AS containment
         FROM pr JOIN sz ON pr.src_a = sz.source
         ORDER BY pr.src_a, pr.src_b""",

    // (2·Σ i·x − (n+1)·Σx) / (n·Σx), ranks ascending by (tokens, source)
    "q_gini" ->
      """WITH per AS (SELECT source,
             CAST(sum(length(regexp_extract_all(text, '\S+'))) AS BIGINT)
               AS tokens
           FROM documents GROUP BY 1),
         r AS (SELECT tokens,
             CAST(row_number() OVER (ORDER BY tokens ASC, source ASC)
               AS BIGINT) AS i
           FROM per),
         a AS (SELECT CAST(count(*) AS BIGINT) AS n_sources,
             CAST(sum(tokens) AS BIGINT) AS total_tokens,
             CAST(sum(i * tokens) AS BIGINT) AS weighted
           FROM r)
         SELECT n_sources, total_tokens,
           (CAST(2.0 AS DOUBLE) * CAST(weighted AS DOUBLE)
             - CAST(n_sources + 1 AS DOUBLE) * CAST(total_tokens AS DOUBLE))
           / (CAST(n_sources AS DOUBLE) * CAST(total_tokens AS DOUBLE))
             AS gini
         FROM a""",

    // the clustering-coef twin's CTEs + directed in/out counts, zeros
    // for absent signals
    "q_node_features" ->
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
         ORDER BY node_id""",

    "q_tpch_q1" ->
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
         GROUP BY 1, 2 ORDER BY 1, 2""",

    // the 3 peels unrolled as chained CTEs, then the final degree filter
    "q_kcore" ->
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
         WHERE deg >= 90 ORDER BY node_id""",

    "q_dataset_card" ->
      """WITH d AS (SELECT *, CAST(length(regexp_extract_all(text, '\S+'))
             AS BIGINT) AS n_tok
           FROM documents),
         du AS (SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) AS n_dups
           FROM (SELECT count(*) AS c FROM documents GROUP BY text)),
         a AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS n_tokens,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
             CAST(sum(n_chars) AS BIGINT) AS n_chars,
             CAST(sum(CASE WHEN n_tok < 20 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_short
           FROM d)
         SELECT a.n_docs, a.n_tokens, a.n_langs, a.n_sources, a.n_chars,
           a.n_short, du.n_dups,
           CAST(a.n_chars AS DOUBLE) / CAST(a.n_docs AS DOUBLE)
             AS mean_chars,
           CAST(du.n_dups AS DOUBLE) / CAST(a.n_docs AS DOUBLE) AS dup_rate
         FROM a, du""",

    // the phrase twin's position convention (filtered token list)
    "q_proximity_search" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[ \n\t\r]+'),
               x -> x <> '') AS t
           FROM documents),
         p AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, t[i] AS term
           FROM toks, unnest(generate_series(1, len(t))) AS g(i)),
         a AS (SELECT doc_id, pos AS pos_a FROM p WHERE term = 'table'),
         b AS (SELECT doc_id, pos AS pos_b FROM p WHERE term = 'join')
         SELECT a.doc_id, a.pos_a, b.pos_b
         FROM a JOIN b USING (doc_id)
         WHERE abs(a.pos_a - b.pos_b) <= 5
         ORDER BY doc_id, pos_a, pos_b""",

    // same injection, the redact twin's patterns, exact counts
    "q_pii_rate" ->
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
         FROM f GROUP BY source ORDER BY source""",

    // identical pooled-z tree; every float literal CAST to DOUBLE
    "q_ab_significance" ->
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
         FROM z""",

    "q_inactive_users" ->
      """WITH lp AS (SELECT user_id, max(ts) AS last_ts FROM events
           GROUP BY 1),
         g AS (SELECT max(ts) AS gmax FROM events)
         SELECT lp.user_id, lp.last_ts,
           CAST(date_diff('day', CAST(lp.last_ts AS DATE),
             CAST(g.gmax AS DATE)) AS BIGINT) AS idle_days,
           lp.last_ts <= g.gmax - INTERVAL 7 DAY AS inactive
         FROM lp, g ORDER BY lp.user_id""",

    "q_vocab_coverage" ->
      """WITH toks AS (SELECT unnest(list_filter(
             regexp_split_to_array(text, '[ \n\t\r]+'), x -> x <> ''))
             AS tok
           FROM documents),
         c AS (SELECT tok, count(*) AS n FROM toks GROUP BY 1),
         r AS (SELECT tok, n,
             row_number() OVER (ORDER BY n DESC, tok) AS rnk
           FROM c),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
         ks AS (SELECT * FROM (VALUES (10), (50), (100)) AS v(k))
         SELECT CAST(ks.k AS BIGINT) AS k, t.total AS total_tokens,
           CAST(sum(r.n) AS BIGINT) AS covered,
           CAST(sum(r.n) AS DOUBLE) / CAST(t.total AS DOUBLE) AS coverage
         FROM ks CROSS JOIN t JOIN r ON r.rnk <= ks.k
         GROUP BY 1, 2 ORDER BY k""",

    // integer ceilings via //, fractions as single double quotients
    "q_packing_efficiency" ->
      """WITH d AS (SELECT CAST(length(regexp_extract_all(text, '\S+'))
             AS BIGINT) AS n_tok FROM documents),
         ls AS (SELECT CAST(l AS BIGINT) AS context_len
           FROM (VALUES (512), (2048)) v(l)),
         a AS (SELECT context_len, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS total_tokens,
             CAST(sum((n_tok + context_len - 1) // context_len) AS BIGINT)
               AS naive_seqs
           FROM ls CROSS JOIN d GROUP BY 1),
         b AS (SELECT *,
             CAST((total_tokens + context_len - 1) // context_len
               AS BIGINT) AS packed_seqs
           FROM a)
         SELECT context_len, n_docs, total_tokens, naive_seqs,
           CAST(naive_seqs * context_len - total_tokens AS DOUBLE) /
             CAST(naive_seqs * context_len AS DOUBLE) AS naive_pad_frac,
           packed_seqs,
           CAST(packed_seqs * context_len - total_tokens AS DOUBLE) /
             CAST(packed_seqs * context_len AS DOUBLE) AS packed_pad_frac
         FROM b ORDER BY context_len""",

    "q_truncation_report" ->
      """WITH d AS (SELECT CAST(length(regexp_extract_all(text, '\S+'))
             AS BIGINT) AS n_tok
           FROM documents),
         ls AS (SELECT * FROM (VALUES (64), (128), (256)) AS v(l))
         SELECT CAST(l AS BIGINT) AS context_len,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_tok > l THEN 1 ELSE 0 END) AS BIGINT)
             AS n_truncated,
           CAST(sum(n_tok) AS BIGINT) AS tokens_total,
           CAST(sum(greatest(n_tok - l, 0)) AS BIGINT) AS tokens_lost,
           CAST(sum(greatest(n_tok - l, 0)) AS DOUBLE)
             / CAST(sum(n_tok) AS DOUBLE) AS loss_share
         FROM ls CROSS JOIN d GROUP BY 1 ORDER BY 1""",

    "q_basket_pairs" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
           FROM lineitem)
         SELECT a.pk AS part_a, b.pk AS part_b,
           CAST(count(*) AS BIGINT) AS support
         FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
         GROUP BY 1, 2 HAVING count(*) >= 2
         ORDER BY support DESC, part_a, part_b""",

    // integer seasonal gate: n * season_n > 2 * season_sum
    "q_seasonal_residual" ->
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
         ORDER BY event_type, hour""",

    "q_event_pattern" ->
      """WITH s AS (
           SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS t1,
             lead(event_type, 2) OVER w AS t2
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_patterns
         FROM s WHERE event_type = 'view' AND t1 = 'click'
           AND t2 = 'purchase'
         GROUP BY user_id ORDER BY user_id""",

    // quantile_cont is the same linear interpolation as Spark's
    // percentile; counts stay integer so no clamped-sum rounding exists
    "q_winsorize" ->
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
         GROUP BY 1 ORDER BY 1""",

    // q_scd2's history CTE + the interval-containment probe
    "q_scd_lookup" ->
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
         ORDER BY fact_id""",

    // the HUGEINT simhash bits + exact byte-shingle Jaccard per
    // candidate pair (all pairs at hamming <= 3: pigeonhole-complete)
    "q_simhash_calibration" ->
      s"""$simhashBitsCte,
         grams AS (
           SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(length(text) - 4, 0)),
               i -> substr(text, i, 5))) AS gs
           FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_filter(generate_series(1, 64),
             i -> a.bits[i] <> b.bits[i])) AS BIGINT) AS hamming,
           CAST(len(list_intersect(ga.gs, gb.gs)) AS DOUBLE) /
             (len(ga.gs) + len(gb.gs) - len(list_intersect(ga.gs, gb.gs)))
             AS jaccard
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           JOIN grams ga ON ga.doc_id = a.doc_id
           JOIN grams gb ON gb.doc_id = b.doc_id
         WHERE len(list_filter(generate_series(1, 64),
             i -> a.bits[i] <> b.bits[i])) <= 3
           AND len(ga.gs) > 0 AND len(gb.gs) > 0
         ORDER BY id_a, id_b""",

    // affine proposals minus the undirected edge set
    "q_negative_edges" ->
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
         ORDER BY src, dst""",

    // identical window/interp expression tree (same casts, same division)
    "q_interpolate" ->
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
         FROM f ORDER BY user_id, day""",

    // the incremental apply equals one global lead() pass whenever the
    // cutoff splits each key's timeline (it does: ts < vs >= literal)
    "q_scd2" ->
      """SELECT user_id, event_type, value, ts AS valid_from,
           event_id AS change_id,
           lead(ts) OVER w AS valid_to,
           (lead(ts) OVER w IS NULL) AS is_current
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ORDER BY user_id, valid_from, change_id""",

    // per-token FNV-1a replayed in HUGEINT mod-2^64 (the simhash twin's
    // hash), bucket = low 8 bits, integer weights, one double division
    // q_classify's score chain + the q_histogram clamp+floor binning
    "q_calibration" ->
      """WITH toks AS (
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
         tw AS (SELECT doc_id,
             ((CAST(h % 256 AS BIGINT) * 2654435761 + 12345) % 2001) - 1000
               AS w
           FROM th),
         agg AS (SELECT doc_id, sum(w) AS s, count(*) AS n
           FROM tw GROUP BY doc_id),
         sc AS (SELECT d.doc_id,
             CAST(coalesce(a.s, 0) AS DOUBLE)
               / (CAST(1000.0 AS DOUBLE)
                  * CAST(greatest(coalesce(a.n, 0), 1) AS DOUBLE)) AS score,
             CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
           FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
           WHERE d.text IS NOT NULL),
         b AS (SELECT least(greatest(
             CAST(floor((score - CAST(-1.0 AS DOUBLE))
               / CAST(0.2 AS DOUBLE)) AS BIGINT), 0), 9) AS bucket, y
           FROM sc)
         SELECT bucket,
           CAST(-1.0 AS DOUBLE) + CAST(bucket AS DOUBLE)
             * CAST(0.2 AS DOUBLE) AS lo_edge,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(y) AS BIGINT) AS positives,
           CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS pos_rate
         FROM b GROUP BY bucket ORDER BY bucket""",

    "q_classify" ->
      """WITH toks AS (
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
         tw AS (SELECT doc_id,
             ((CAST(h % 256 AS BIGINT) * 2654435761 + 12345) % 2001) - 1000
               AS w
           FROM th),
         agg AS (SELECT doc_id, sum(w) AS s, count(*) AS n
           FROM tw GROUP BY doc_id)
         SELECT d.doc_id,
           CAST(coalesce(a.s, 0) AS DOUBLE)
             / (CAST(1000.0 AS DOUBLE)
                * CAST(greatest(coalesce(a.n, 0), 1) AS DOUBLE)) AS score,
           (CAST(coalesce(a.s, 0) AS DOUBLE)
             / (CAST(1000.0 AS DOUBLE)
                * CAST(greatest(coalesce(a.n, 0), 1) AS DOUBLE))) > 0.0
             AS keep
         FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
         ORDER BY d.doc_id"""
  )
}
