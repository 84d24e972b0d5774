package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import graft.engine.Tables
import org.scalatest.funsuite.AnyFunSuite

/** The session's codegen cache holds every class of a repeated query set,
  * so a steady pass compiles nothing. Spark's default of 100 entries is
  * smaller than one pass of the 8 perfbench tpch queries: with it, the
  * second pass below recompiled 60 classes. */
class CodegenSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark

  def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a second pass of the perfbench tpch queries compiles no class") {
    val names = Seq(1, 3, 5, 6, 13, 14, 16, 22).map(i => s"q_tpch_q$i")
    def pass(): Long = compiles(names.foreach(n =>
      SparkEntry.queries(n)(spark, SparkFixture.sfDir)
        .write.format("noop").mode("overwrite").save()))
    pass()
    assert(pass() == 0)
  }

  // With artifact isolation on (Spark's default), each new session and
  // each stream start compiles under a fresh class loader, which is part
  // of the codegen cache key: the stream below compiled again on its
  // second start, and q_tpch_q1 compiled 9 classes again in a new session.
  test("a restarted stream and a new session compile no class") {
    val dir = SparkFixture.tempDir("graftcodegen")
    val feed = dir.resolve("feed").toString
    spark.range(0, 200, 1, 2).select(col("id"), (col("id") % 7).as("k"))
      .write.parquet(feed)
    def start(i: Int): Unit = {
      val ss = spark.newSession()
      val q = ss.readStream.schema(Tables.parquet(ss, feed).schema)
        .parquet(feed).groupBy("k").agg(sum("id").as("s"))
        .writeStream.format("noop").outputMode("complete")
        .option("checkpointLocation", dir.resolve(s"ckpt$i").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    start(1)
    assert(compiles(start(2)) == 0)

    def q1(s: org.apache.spark.sql.SparkSession): Unit =
      SparkEntry.queries("q_tpch_q1")(s, SparkFixture.sfDir)
        .write.format("noop").mode("overwrite").save()
    q1(spark)
    assert(compiles(q1(spark.newSession())) == 0)
  }
}
