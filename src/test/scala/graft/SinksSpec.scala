package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.sources.Sinks

/** Writer round-trips (the reference has no write path at all). */
class SinksSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark

  private def tmp(): String =
    SparkFixture.tempDir("graftsink").toString

  test("parquet round-trip with hive partitioning prunes on re-read") {
    val nation = Tables.load(spark, SparkFixture.sfDir, "nation")
    val out = tmp() + "/nation"
    Sinks.writeParquet(nation, out, partitionCols = Seq("n_regionkey"))
    val back = spark.read.parquet(out)
    assert(back.count() == 25)
    // partition pruning: only one directory scanned for one region
    val one = back.filter(col("n_regionkey") === 0)
    val scan = one.queryExecution.executedPlan.toString
    assert(one.count() == nation.filter(col("n_regionkey") === 0).count())
    assert(scan.contains("PartitionFilters"))
  }

  test("compact: merges small files losslessly; clusterCol yields disjoint file ranges") {
    import spark.implicits._
    val df = (0L until 10000L).map(i => (i, s"row$i")).toDF("id", "payload")
    val root = tmp()
    df.repartition(40).write.parquet(s"$root/frag")
    val (before, after) = Sinks.compact(spark, s"$root/frag",
      s"$root/out", targetFileBytes = 256L * 1024, clusterCol = Some("id"))
    assert(before == 40 && after < before && after >= 1)
    val back = spark.read.parquet(s"$root/out")
    assert(back.count() == 10000)
    assert(back.agg(sum(col("id"))).head().getLong(0) == (0L until 10000L).sum)
    // clustering: per-file id ranges must not overlap (file-skipping works)
    val ranges = back.groupBy(input_file_name().as("f"))
      .agg(min(col("id")).as("lo"), max(col("id")).as("hi"))
      .orderBy("lo").as[(String, Long, Long)].collect()
    assert(ranges.length == after)
    ranges.sliding(2).foreach {
      case Array((_, _, hi1), (_, lo2, _)) => assert(hi1 < lo2)
      case _ => ()
    }
  }

  test("writeTrainingShards: deterministic hive shards, hash-ordered within") {
    import spark.implicits._
    val df = (0L until 200L).map(i => (i, s"doc$i")).toDF("id", "payload")
    val out = tmp() + "/shards"
    Sinks.writeTrainingShards(df, out, nShards = 4, idCol = "id")

    val back = spark.read.parquet(out)
    assert(back.count() == 200)
    assert(back.select("shard").distinct().as[Int].collect().sorted.toSeq == Seq(0, 1, 2, 3))
    // hive layout: one directory per shard
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("shard=0", "shard=1", "shard=2", "shard=3"))
    // assignment matches the engine hash (partitionBy round-trips it)
    val mismatch = back.filter(col("shard") =!=
      graft.functions.Profile.shardOf(col("id"), 4)).count()
    assert(mismatch == 0)
    // within a shard the file is written in decorrelated-hash order
    val shard0 = spark.read.parquet(out + "/shard=0")
    val gotIds = shard0.select("id").as[Long].collect().toSeq
    val wantIds = shard0
      .orderBy(graft.functions.Profile.hash32(col("id") + lit(1L)), col("id"))
      .select("id").as[Long].collect().toSeq
    assert(gotIds == wantIds)
    assert(gotIds != gotIds.sorted) // i.e. genuinely shuffled, not id order
    // determinism: a second write produces identical shard contents
    val out2 = tmp() + "/shards2"
    Sinks.writeTrainingShards(df.repartition(7), out2, nShards = 4, idCol = "id")
    val again = spark.read.parquet(out2 + "/shard=0").select("id").as[Long].collect().toSeq
    assert(again == gotIds)
  }

  test("writeZOrdered clusters both dimensions into tight per-file ranges") {
    import spark.implicits._
    // 128x128 grid, shuffled arrival order
    val grid = (0 until 128).flatMap(x => (0 until 128).map(y => (x.toLong, y.toLong)))
    val df = scala.util.Random.shuffle(grid).toDF("x", "y").repartition(8)
    val out = tmp() + "/zorder"
    Sinks.writeZOrdered(df, out, "x", "y", numFiles = 16)
    val files = new java.io.File(out).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    assert(files.length > 4)
    val spans = files.map { f =>
      val mm = spark.read.parquet(f)
        .agg(min("x"), max("x"), min("y"), max("y")).head()
      (mm.getLong(1) - mm.getLong(0), mm.getLong(3) - mm.getLong(2))
    }
    // a z-ordered file covers a small square: both dimensions' average
    // span must be far below the global span (127); a single-column sort
    // would leave one dimension's span at ~127 in every file
    val (avgX, avgY) = (spans.map(_._1).sum / spans.length,
      spans.map(_._2).sum / spans.length)
    assert(avgX <= 64, s"x span $avgX")
    assert(avgY <= 64, s"y span $avgY")
    // no rows lost
    assert(spark.read.parquet(out).count() == 128L * 128L)
  }

  test("csv round-trip preserves data with header") {
    val region = Tables.load(spark, SparkFixture.sfDir, "region")
    val out = tmp() + "/region_csv"
    Sinks.writeCsv(region, out)
    val back = spark.read.option("header", "true").option("inferSchema", "true").csv(out)
    assert(back.orderBy("r_regionkey").collect().map(_.getString(1)).toSeq ==
      region.orderBy("r_regionkey").collect().map(_.getString(1)).toSeq)
  }

  test("json round-trip") {
    val region = Tables.load(spark, SparkFixture.sfDir, "region")
    val out = tmp() + "/region_json"
    Sinks.writeJson(region, out)
    assert(spark.read.json(out).count() == 5)
  }

  test("orc round-trip with partitioning") {
    val nation = Tables.load(spark, SparkFixture.sfDir, "nation")
    val out = tmp() + "/nation_orc"
    Sinks.writeOrc(nation, out, partitionCols = Seq("n_regionkey"))
    val back = spark.read.orc(out)
    assert(back.count() == 25)
    assert(back.filter(col("n_regionkey") === 1).count() ==
      nation.filter(col("n_regionkey") === 1).count())
  }

  test("bucketed tables join without a shuffle (co-located join)") {
    val o = Tables.load(spark, SparkFixture.sfDir, "orders")
    val c = Tables.load(spark, SparkFixture.sfDir, "customer")
    Sinks.writeBucketedTable(o.select("o_orderkey", "o_custkey", "o_totalprice"),
      "b_orders", Seq("o_custkey"), numBuckets = 4, sortCols = Seq("o_custkey"))
    Sinks.writeBucketedTable(c.select("c_custkey", "c_name"),
      "b_customer", Seq("c_custkey"), numBuckets = 4, sortCols = Seq("c_custkey"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_orders")
        .join(spark.table("b_customer"), col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      // both sides bucketed on the join key with equal bucket counts:
      // the sort-merge join reads buckets directly — zero Exchange
      assert(!plan.contains("Exchange"), s"expected shuffle-free join:\n$plan")
      assert(joined.count() ==
        o.join(c, col("o_custkey") === col("c_custkey")).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("text round-trip: one line per row through the documents corpus") {
    val ctx = new graft.engine.Context(spark)
    val docs = Tables.load(spark, SparkFixture.sfDir, "documents")
      .select(regexp_replace(col("text"), "[\\r\\n]", " ").as("value"))
    val out = tmp() + "/docs_txt"
    Sinks.writeText(docs, out)
    val back = ctx.readText(out)
    assert(back.columns.toSeq == Seq("value"))
    assert(back.count() == docs.count())
    ctx.registerText("docs_txt", out)
    assert(ctx.sql("SELECT count(*) AS n FROM docs_txt").collect()(0).getLong(0) == 500)
  }

  test("profile reports counts, nulls, distincts, min/max per column") {
    import spark.implicits._
    val df = Seq((1L, Some("a")), (2L, None), (3L, Some("a"))).toDF("id", "s")
    val got = graft.functions.Profile.profile(df, Seq("id", "s"))
      .orderBy("column").collect()
    assert(got(0).getString(0) == "id" && got(0).getLong(1) == 3 &&
      got(0).getLong(2) == 0 && got(0).getLong(3) == 3 &&
      got(0).getString(4) == "1" && got(0).getString(5) == "3")
    assert(got(1).getString(0) == "s" && got(1).getLong(2) == 1 &&
      got(1).getLong(3) == 1)
  }

  test("manifest skip: range read opens fewer files, result stays exact") {
    import spark.implicits._
    val df = (1L to 800L).map(i => (i, i * 10L)).toDF("id", "v")
    val out = tmp() + "/manifest"
    Sinks.writeWithManifest(df, out, "v", nFiles = 8)
    val (pruned, nRead, nTotal) = Sinks.readPruned(spark, out, "v",
      1000L, 1500L)
    assert(nTotal >= 2 && nRead < nTotal,
      s"expected a real skip, got $nRead of $nTotal files")
    val got = pruned.select("id", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val want = df.filter(col("v").between(1000L, 1500L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got == want && want.nonEmpty)
    // empty overlap: no files opened, empty frame with the right schema
    val (empty, n0, _) = Sinks.readPruned(spark, out, "v", -50L, -10L)
    assert(n0 == 0 && empty.count() == 0)
    assert(empty.columns.toSeq == Seq("id", "v"))
  }

  test("timeEmbargoSplit: embargo rows dropped, boundaries half-open") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, to_timestamp}
    val df = Seq(
      (1L, "2024-01-21 23:59:59"), // train (strictly before cutoff-2d)
      (2L, "2024-01-22 00:00:00"), // embargo start -> dropped
      (3L, "2024-01-23 12:00:00"), // embargo -> dropped
      (4L, "2024-01-24 00:00:00"), // eval (at cutoff, inclusive)
      (5L, "2024-01-25 00:00:00")) // eval
      .toDF("id", "s").withColumn("ts", to_timestamp(col("s")))
    val got = graft.functions.Profile
      .timeEmbargoSplit(df, "ts", "2024-01-24 00:00:00", embargoDays = 2)
      .select("id", "split").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq.sorted
    assert(got == Seq((1L, "train"), (4L, "eval"), (5L, "eval")))
    // zero embargo degrades to the plain knife-edge split (no dropped rows)
    val all = graft.functions.Profile
      .timeEmbargoSplit(df, "ts", "2024-01-24 00:00:00", embargoDays = 0)
      .count()
    assert(all == 5L)
  }

  test("hashSplit is deterministic, covers all rows, roughly respects pct") {
    import spark.implicits._
    val df = (1L to 1000L).toDF("id")
    val s1 = graft.functions.Profile.hashSplit(df, "id", 80)
    val s2 = graft.functions.Profile.hashSplit(df, "id", 80)
    val c1 = s1.groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val c2 = s2.groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(c1 == c2)
    assert(c1.values.sum == 1000)
    assert(c1("train") > 700 && c1("train") < 900)
  }
}
