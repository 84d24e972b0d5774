package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** The session's codegen cache holds every class of a repeated query set,
  * so a steady pass compiles nothing. Spark's default of 100 entries is
  * smaller than one pass of the 8 perfbench tpch queries: with it, the
  * second pass below recompiled 60 classes. */
class CodegenSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark

  test("a second pass of the perfbench tpch queries compiles no class") {
    val names = Seq(1, 3, 5, 6, 13, 14, 16, 22).map(i => s"q_tpch_q$i")
    def pass(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      names.foreach(n => SparkEntry.queries(n)(spark, SparkFixture.sfDir)
        .write.format("noop").mode("overwrite").save())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    pass()
    assert(pass() == 0)
  }
}
