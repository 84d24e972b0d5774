package graft

import java.net.URI
import org.apache.hadoop.fs.{FileContext, FileSystem}
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{Context, CsvOptions, ForkFreeLocalFileSystem, ForkFreeLocalFs, Stages, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Catalog + SQL front door + CSV source behavior
  * (ref: src/execution/context.rs:111-136 tests). */
class ContextSpec extends AnyFunSuite {
  // a def: one case below stops the session and starts the next
  def spark = SparkFixture.spark

  test("register + table + sql round-trip") {
    val ctx = Context.forSfDir(spark, SparkFixture.sfDir)
    assert(ctx.tableNames.toSet == Tables.all.toSet)
    assert(ctx.table("nation").count() == 25)
    val n = ctx.sql("SELECT count(*) AS n FROM region").collect()(0).getLong(0)
    assert(n == 5)
  }

  test("sql validates table references against the catalog (ref: context.rs:87-102)") {
    val ctx = Context.forSfDir(spark, SparkFixture.sfDir)
    val ex = intercept[IllegalArgumentException](ctx.sql("SELECT * FROM missing_tbl"))
    assert(ex.getMessage.contains("missing_tbl"))
    intercept[IllegalArgumentException](ctx.table("nope"))
  }

  test("sql validation accepts CTE names and checks subquery relations") {
    val ctx = Context.forSfDir(spark, SparkFixture.sfDir)
    // CTE name is defined by the query, not the catalog
    val n = ctx.sql("""WITH big AS (SELECT * FROM region WHERE r_regionkey >= 0)
                       SELECT count(*) AS n FROM big""").collect()(0).getLong(0)
    assert(n == 5)
    // a relation inside an EXISTS subquery IS validated
    val ex = intercept[IllegalArgumentException](ctx.sql(
      "SELECT * FROM region WHERE EXISTS (SELECT 1 FROM ghost_tbl)"))
    assert(ex.getMessage.contains("ghost_tbl"))
    // an unregistered relation inside a CTE body is also caught
    val ex2 = intercept[IllegalArgumentException](ctx.sql(
      "WITH w AS (SELECT * FROM phantom) SELECT * FROM w"))
    assert(ex2.getMessage.contains("phantom"))
  }

  test("csv reader: header + inference, and explicit schema override") {
    val dir = SparkFixture.tempDir("graftcsv").toFile
    val f = new java.io.File(dir, "simple.csv")
    // the reference's simple.csv shape (ref: testdata/csv/simple.csv)
    val w = new java.io.PrintWriter(f)
    w.write("c1,c2,c3\na,1,2\nb,2,3\nc,3,4\nd,4,5\ne,5,6\nf,6,7\n"); w.close()

    val ctx = new Context(spark)
    val inferred = ctx.readCsv(f.getAbsolutePath)
    assert(inferred.schema("c2").dataType == IntegerType)
    assert(inferred.count() == 6)

    val explicit = ctx.readCsv(f.getAbsolutePath, CsvOptions(schema = Some(StructType(Seq(
      StructField("c1", StringType), StructField("c2", LongType), StructField("c3", LongType))))))
    assert(explicit.schema("c2").dataType == LongType)

    ctx.registerCsv("simple_csv", f.getAbsolutePath)
    assert(ctx.sql("SELECT sum(c2) AS s FROM simple_csv").collect()(0).getLong(0) == 21)
  }

  test("csv malformed-row policy: permissive null-fills, dropmalformed skips") {
    val dir = SparkFixture.tempDir("graftcsvbad").toFile
    val f = new java.io.File(dir, "bad.csv")
    val w = new java.io.PrintWriter(f)
    w.write("c1,c2\na,1\nb,not_a_number\nc,3\n"); w.close()
    val ctx = new Context(spark)
    val schema = StructType(Seq(
      StructField("c1", StringType), StructField("c2", LongType)))

    val permissive = ctx.readCsv(f.getAbsolutePath,
      CsvOptions(schema = Some(schema))).collect().sortBy(_.getString(0))
    assert(permissive.length == 3)
    assert(permissive(1).isNullAt(1)) // bad cell null-filled

    val dropped = ctx.readCsv(f.getAbsolutePath,
      CsvOptions(schema = Some(schema), mode = "DROPMALFORMED"))
    // note: collect(), not count() — count() prunes every column, so the
    // malformed cell is never parsed and nothing gets dropped
    assert(dropped.collect().length == 2)
  }

  test("the test fixture runs the production session config") {
    val conf = spark.conf
    assert(conf.get(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    assert(conf.get("spark.sql.extensions")
      .contains("graft.engine.GraftExtensions"))
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "500")
    assert(conf.get("spark.sql.sources.fileCompressionFactor") == "4")
    assert(conf.get("spark.sql.artifact.isolation.enabled") == "false")
    assert(conf.get("spark.hadoop.fs.file.impl") ==
      classOf[ForkFreeLocalFileSystem].getName)
    assert(conf.get("spark.hadoop.fs.AbstractFileSystem.file.impl") ==
      classOf[ForkFreeLocalFs].getName)
  }

  test("local paths resolve to the fork-free filesystem, also after a session restart") {
    def check(s: SparkSession): Unit = {
      val hadoopConf = s.sparkContext.hadoopConfiguration
      assert(FileSystem.get(URI.create("file:///"), hadoopConf)
        .isInstanceOf[ForkFreeLocalFileSystem])
      assert(FileContext.getLocalFSFileContext(hadoopConf).getDefaultFileSystem
        .isInstanceOf[ForkFreeLocalFs])
    }
    check(spark)
    // the perfbench set-up path: stop, then a second Context.session
    spark.stop()
    check(Context.session("local[4]", 4))
  }

  test("events table canonicalizes nanos to TimestampType") {
    val ev = Tables.load(spark, SparkFixture.sfDir, "events")
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.count() > 0)
  }

  test("the driver-read footer schema equals spark.read.parquet's at every sf") {
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = java.nio.file.Paths.get(SparkFixture.sfDir).resolveSibling(sf)
      val paths = Tables.all.map(t => s"$dir/$t.parquet")
      for ((p, df) <- paths.zip(Tables.parquet(spark, paths))) {
        val inferred = spark.read.parquet(p)
        assert(df.schema == inferred.schema, p)
        assert(df.sameSemantics(inferred), p)
        // same file-size estimate, so the same join strategies
        assert(df.queryExecution.optimizedPlan.stats.sizeInBytes ==
          inferred.queryExecution.optimizedPlan.stats.sizeInBytes, p)
      }
    }
  }

  test("the driver-read footer schema equals spark.read.parquet's on a Spark-written dir") {
    val dir = SparkFixture.tempDir("graftfooter").resolve("t").toString
    spark.range(0, 40, 1, 4).select(
        col("id"), (col("id") % 3).as("k"),
        timestamp_micros(col("id") * 1000003L).as("ts"),
        (col("id") / 7).cast(DecimalType(12, 2)).as("amount"),
        struct(col("id").cast("int").as("a"),
          col("id").cast("string").as("b")).as("s"),
        array(col("id"), col("id") + 1).as("xs"))
      .write.partitionBy("k").parquet(dir)
    val df = Tables.parquet(spark, dir)
    val inferred = spark.read.parquet(dir)
    assert(df.schema == inferred.schema)
    assert(df.schema.fieldNames.toSeq == Seq("id", "ts", "amount", "s", "xs", "k"))
    assert(df.sameSemantics(inferred))
    assert(df.count() == 40)
    val ctx = new Context(spark)
    assert(ctx.readParquet(dir).schema == inferred.schema)

    // with schema merging on, Spark reads every footer; so does the helper
    val wide = SparkFixture.tempDir("graftmerge").resolve("t").toString
    spark.range(3).toDF("a").write.parquet(s"$wide/p=1")
    spark.range(3).select(col("id").as("a"), col("id").as("b"))
      .write.parquet(s"$wide/p=2")
    val merging = spark.newSession()
    merging.conf.set("spark.sql.parquet.mergeSchema", "true")
    assert(Tables.parquet(merging, wide).schema.fieldNames.toSeq == Seq("a", "b", "p"))
    assert(Tables.parquet(merging, wide).schema == merging.read.parquet(wide).schema)
  }

  test("sf table registration runs no Spark job") {
    val (_, rec) = Stages.record(spark) {
      Context.forSfDir(spark.newSession(), SparkFixture.sfDir)
    }
    assert(rec.jobs.isEmpty, rec.jobs.map(_.name))
  }
}
