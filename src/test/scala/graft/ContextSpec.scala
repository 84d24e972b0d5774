package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{Context, CsvOptions, Tables}
import org.apache.spark.sql.types._

/** Catalog + SQL front door + CSV source behavior
  * (ref: src/execution/context.rs:111-136 tests). */
class ContextSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark

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
  }

  test("events table canonicalizes nanos to TimestampType") {
    val ev = Tables.load(spark, SparkFixture.sfDir, "events")
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.count() > 0)
  }
}
