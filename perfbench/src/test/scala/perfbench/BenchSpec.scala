package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** A query that throws must count as failed, raise `failed_frac` and be
  * named in the report; it must never drop out of the pass. */
class BenchSpec extends AnyFunSuite {
  private val sfDir = sys.props("user.home") + "/testdata/sf0.001"

  private def runWith(queries: Seq[String]) = {
    val work = Files.createTempDirectory(
      Files.createDirectories(Paths.get("target")), "benchspec").toString
    val cfg = Bench.Config("selftest", queries, seed = 1, seconds = 0,
      trace = false, sfDir = sfDir, repoDir = "..",
      workDir = work, outDir = work)
    val registry = SparkEntry.queries + ("q_always_throws" ->
      ((_: Any, _: Any) => throw new IllegalStateException("always throws")))
    val lines = mutable.ArrayBuffer.empty[String]
    val record = Bench.run(cfg, registry, lines += _)
    (record, lines.toSeq)
  }

  private def failedFrac(lines: Seq[String]): Double =
    lines.find(_.startsWith("[perfbench] failed_frac")).get
      .split("\\s+")(2).toDouble

  test("a throwing query raises failed_frac and is named") {
    val (base, baseLines) = runWith(Seq("q_scan"))
    withClue(baseLines.mkString("\n")) { assert(base("correct") == true) }
    assert(base("failed") == 0)
    assert(failedFrac(baseLines) == 0.0)

    val (rec, lines) = runWith(Seq("q_scan", "q_always_throws"))
    assert(rec("correct") == false)
    // three timed passes of two queries; every pass keeps the failure
    assert(rec("attempted") == 6)
    assert(rec("failed") == 3)
    assert(failedFrac(lines) == 0.5)
    val failedLine = lines.find(_.startsWith("[perfbench] failed queries")).get
    assert(failedLine.contains("failed queries (1): q_always_throws"))
    assert(failedLine.contains("always throws"))
    // the failure is also reported by the oracle check of the check pass
    assert(lines.exists(l => l.contains("oracle q_always_throws") &&
      l.contains("THREW")))
    assert(lines.last.startsWith("{\"correct\":false"))
  }
}
