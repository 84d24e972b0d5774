package graft

import org.scalatest.funsuite.AnyFunSuite

/** A crashing query must show up in Bench's output, never make the sweep
  * look faster by silently dropping out. */
class BenchSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark

  test("a failing query is named, counted in n_failed and absent from total") {
    val registry: Map[String, Bench.Query] = Map(
      "q_ok" -> ((s, _) => s.range(3).toDF()),
      "q_boom" -> ((_, _) => throw new RuntimeException("boom")))
    val sweep = Bench.sweep(spark, SparkFixture.sfDir, registry)
    assert(sweep.failed == Seq("q_boom"))
    assert(sweep.times.toMap.apply("q_boom") < 0)
    val ok = sweep.times.toMap.apply("q_ok")
    assert(ok >= 0)
    assert(sweep.total == ok)
    val line = Bench.shortLine(sweep, SparkFixture.sfDir)
    assert(line.contains("\"n_failed\":1"))
    assert(line.contains("\"n_queries\":2"))
    // the stage record: the timed run's jobs for q_ok, nothing for q_boom
    assert(sweep.records("q_ok").jobs.size >= 1)
    assert(!sweep.records.contains("q_boom"))
    val json = Bench.recordsJson(sweep)
    assert(json.startsWith("{\"q_ok\":{\"jobs\":"))
    assert(json.contains("\"spill_mb\":") && !json.contains("q_boom"))
    assert(json.contains("\"codegen_compiles\":"))
  }
}
