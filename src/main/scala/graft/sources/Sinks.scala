package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.col
import graft.engine.Tables

/** Output sinks. The reference has NO write path at all
  * (ref: src/io/writer/mod.rs is empty, 0 lines; output surface is
  * collect()/show() only — SURVEY.md §2.5), so this module is
  * beyond-reference capability built on `df.write`.
  *
  * Scale notes baked into the defaults:
  *  - Parquet is the primary format (columnar, statistics, predicate
  *    pushdown on re-read); CSV/JSON exist for interchange.
  *  - `partitionBy` produces hive-style directory partitioning — the thing
  *    that makes downstream partition pruning work at 100 TB.
  *  - `bucketBy` (via saveAsTable) pre-shuffles on the join key once at
  *    write time so later joins/aggregations on that key are shuffle-free.
  *  - `maxRecordsPerFile` guards against the giant-file long-tail; callers
  *    control output file count upstream via repartition(n, cols) — never
  *    coalesce(1) (a single writer task is the classic output bottleneck).
  */
object Sinks {

  /** Deterministic training-shard writer: each row lands in one of
    * `nShards` hive directories by the width-safe multiplicative id hash
    * (`Profile.shardOf` — stable across runs, partitionings and engines;
    * a restarted 100 TB job reproduces the exact same shards, which
    * `repartition(n)` round-robin or rand() cannot promise), and rows
    * WITHIN a shard are written in decorrelated hash order — the
    * reproducible global shuffle an LLM training pipeline wants for its
    * data loader. `repartition(shard)` co-locates each shard in one task
    * so every shard directory is written as one sorted unit. */
  def writeTrainingShards(df: DataFrame, path: String, nShards: Int,
      idCol: String, mode: SaveMode = SaveMode.Overwrite): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    val id = col(idCol)
    df.withColumn("shard", graft.functions.Profile.shardOf(id, nShards))
      .repartition(col("shard"))
      // order inside a shard by the hash of (id + 1), decorrelated from
      // the shard hash; id as the total-order tiebreaker
      .sortWithinPartitions(col("shard"),
        graft.functions.Profile.hash32(id + lit(1L)), id)
      .write.mode(mode).partitionBy("shard").parquet(path)
  }

  def writeParquet(df: DataFrame, path: String,
      partitionCols: Seq[String] = Nil,
      mode: SaveMode = SaveMode.Overwrite,
      maxRecordsPerFile: Long = 5000000L): Unit = {
    val w = df.write.mode(mode)
      .option("maxRecordsPerFile", maxRecordsPerFile.toString)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(path)
  }

  /** Z-order-clustered parquet layout (the OPTIMIZE ZORDER lever): rows
    * are range-partitioned and sorted by the Morton interleave of two
    * columns, so every output file covers a small square in (a, b) space
    * and parquet row-group min/max stats stay tight for predicates on
    * EITHER column — a selective filter on a OR on b skips most files at
    * scan time, without hive-partitioning on anything. The complement to
    * [[writeParquet]]'s partitionBy (best for one low-cardinality column)
    * for two high-cardinality dimensions. Inputs are masked to their low
    * `bits` (codes collide above that — fine for clustering, where the
    * code is a sort key, not an identity). */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
      numFiles: Int = 64, bits: Int = 16,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    val mask = (1L << bits) - 1
    df.withColumn("__z", graft.functions.native.zorder2(
        col(colA).cast("long").bitwiseAND(mask),
        col(colB).cast("long").bitwiseAND(mask)))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(mode).parquet(path)
  }

  /** Small-file compaction — the table-maintenance primitive every
    * long-lived 100 TB dataset needs: streaming ingest and per-batch
    * writes accumulate thousands of KB-scale files whose open/footer
    * overhead eventually dominates scan time. Rewrites `srcPath` into
    * ceil(totalBytes / targetFileBytes) files; with `clusterCol` the
    * rewrite range-partitions + sorts on it, so each output file covers
    * a tight, disjoint key range and parquet min/max stats skip files
    * for key predicates (compaction and clustering in one pass — the
    * OPTIMIZE ... ZORDER shape, one dimension). Returns
    * (filesBefore, filesAfter). The rewrite is a fresh dataset at
    * `dstPath` — swapping it in atomically is the caller's
    * metastore/manifest concern, not the file writer's. */
  def compact(spark: org.apache.spark.sql.SparkSession, srcPath: String,
      dstPath: String, targetFileBytes: Long = 128L * 1024 * 1024,
      clusterCol: Option[String] = None): (Int, Int) = {
    // resolve each path's OWN filesystem — FileSystem.get(conf) returns
    // fs.defaultFS, which is the wrong store for an s3a:// table on an
    // HDFS-default cluster (or vice versa)
    def parts(p: String) = {
      val path = new org.apache.hadoop.fs.Path(p)
      path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(path)
        .filter(_.getPath.getName.startsWith("part-"))
    }
    val before = parts(srcPath)
    val totalBytes = before.map(_.getLen).sum
    val n = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val df = Tables.parquet(spark, srcPath)
    val out = clusterCol match {
      case Some(c) => df.repartitionByRange(n, col(c)).sortWithinPartitions(c)
      case None    => df.repartition(n)
    }
    out.write.mode(SaveMode.Overwrite).parquet(dstPath)
    (before.length, parts(dstPath).length)
  }

  /** CSV sink writing RFC 4180 interchange form: embedded quotes are
    * DOUBLED (escape = quote), not backslash-escaped as Spark's default
    * has it — so any standard CSV reader parses our output byte-for-byte
    * (q_csv_interchange proves this against DuckDB's read_csv). */
  def writeCsv(df: DataFrame, path: String, header: Boolean = true,
      delimiter: Char = ',', quote: Char = '"',
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode)
      .option("header", header.toString)
      .option("delimiter", delimiter.toString)
      .option("quote", quote.toString)
      .option("escape", quote.toString)
      .csv(path)

  def writeJson(df: DataFrame, path: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).json(path)

  /** ORC — the second columnar format Spark ships natively (vectorized
    * reader, predicate pushdown, same partitioning story as parquet). */
  def writeOrc(df: DataFrame, path: String,
      partitionCols: Seq[String] = Nil,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.mode(mode)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).orc(path)
  }

  /** Line-oriented text: one string column per line (the raw-corpus
    * interchange format for text pipelines — upstream crawls usually land
    * as line-delimited text before any schema exists). */
  def writeText(df: DataFrame, path: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).text(path)

  /** Bucketed managed table: one shuffle at write time buys co-located,
    * shuffle-free joins on `bucketCols` for every later reader. */
  def writeBucketedTable(df: DataFrame, table: String,
      bucketCols: Seq[String], numBuckets: Int,
      sortCols: Seq[String] = Nil,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    val s = df.sparkSession
    if (mode == SaveMode.Overwrite) {
      // a managed-table LOCATION can survive from an earlier session whose
      // in-memory catalog is gone; saveAsTable then refuses the name. Drop
      // both the catalog entry and any orphaned location.
      s.sql(s"DROP TABLE IF EXISTS `$table`")
      val loc = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
      loc.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(loc, true)
    }
    var w = df.write.mode(mode).format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    if (sortCols.nonEmpty) w = w.sortBy(sortCols.head, sortCols.tail: _*)
    w.saveAsTable(table)
  }

  /** Range-clustered write plus a file-level min/max manifest — the
    * data-skipping layout every table format (Delta/Iceberg/Hudi) builds
    * on, expressed directly: rows are range-partitioned on `rangeCol` so
    * each output file owns a narrow value band, and a manifest records
    * each file's (lo, hi). A range query then opens only overlapping
    * files (`readPruned`) instead of listing-and-scanning the whole
    * directory — at 100 TB, manifest pruning is the difference between
    * touching 3 files and 30,000. The manifest is derived from the data
    * itself after the write (one aggregate over file name), so it can
    * never disagree with the files. */
  def writeWithManifest(df: DataFrame, path: String, rangeCol: String,
      nFiles: Int): Unit = {
    df.repartitionByRange(nFiles, col(rangeCol))
      .sortWithinPartitions(rangeCol)
      .write.mode(SaveMode.Overwrite).parquet(path)
    val s = df.sparkSession
    Tables.parquet(s, path)
      .select(org.apache.spark.sql.functions.input_file_name().as("file"),
        col(rangeCol))
      .groupBy("file")
      .agg(org.apache.spark.sql.functions.min(col(rangeCol)).as("lo"),
        org.apache.spark.sql.functions.max(col(rangeCol)).as("hi"))
      .coalesce(1) // manifest is file-count-sized, tiny by construction
      .write.mode(SaveMode.Overwrite).parquet(path + "_manifest")
  }

  /** Manifest-pruned range read over a `writeWithManifest` layout:
    * consult the (tiny) manifest for files whose [lo, hi] overlaps
    * [from, to], open ONLY those, and re-apply the predicate for
    * row-level exactness. The collect is bounded by the file count —
    * manifest-sized, never data-sized. Returns (dataframe, filesRead,
    * filesTotal) so callers can assert the skip actually happened. */
  def readPruned(spark: org.apache.spark.sql.SparkSession, path: String,
      rangeCol: String, from: Any, to: Any):
      (DataFrame, Int, Int) = {
    val manifest = Tables.parquet(spark, path + "_manifest")
    val total = manifest.count().toInt
    val files = manifest
      .filter(col("hi") >= org.apache.spark.sql.functions.lit(from) &&
        col("lo") <= org.apache.spark.sql.functions.lit(to))
      .select("file").collect().map(_.getString(0))
    val df =
      if (files.isEmpty)
        Tables.parquet(spark, path).filter(org.apache.spark.sql.functions.lit(false))
      // one relation over the chosen files: Tables.parquet gives one frame
      // per path, and a union of k single-file scans would plan k scans
      else spark.read.parquet(files.toIndexedSeq: _*)
        .filter(col(rangeCol).between(
          org.apache.spark.sql.functions.lit(from),
          org.apache.spark.sql.functions.lit(to)))
    (df, files.length, total)
  }
}
