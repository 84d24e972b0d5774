package graft

import java.nio.file.{Files, Path}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Run
import graft.tools.Stress

/** The one query runner: failures come back named, persists never outlive
  * a run, eager builder jobs are recorded and timed, unknown names run
  * nothing, and a failed write leaves no stale result behind. */
class RunSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  private val sfDir = SparkFixture.sfDir

  test("a builder that throws returns the failure and the name") {
    val out = Run(spark, "test", "q_boom")(throw new RuntimeException("boom"))
    val f = out.swap.toOption.get
    assert(f.name == "q_boom" && f.error.getMessage == "boom")
  }

  test("a frame the builder persisted is unpersisted after the run, failed or not") {
    def persisted() = { val df = spark.range(100).toDF().persist(); df.count(); df }
    var kept: org.apache.spark.sql.DataFrame = null
    val ok = Run(spark, "test", "q_ok") { kept = persisted(); Run.noop(kept) }
    assert(ok.isRight)
    assert(kept.storageLevel == StorageLevel.NONE)
    val failed = Run(spark, "test", "q_boom") {
      kept = persisted(); throw new RuntimeException("boom") }
    assert(failed.isLeft)
    assert(kept.storageLevel == StorageLevel.NONE)
  }

  test("a job the builder runs eagerly is in the record and inside the seconds") {
    val sc = spark.sparkContext
    val done = Run(spark, "test", "q_eager") {
      sc.setJobDescription("eager build")
      try sc.parallelize(1 to 2, 2).foreach(_ => Thread.sleep(300))
      finally sc.setJobDescription(null)
      Run.noop(spark.range(10).toDF())
    }.toOption.get
    val eager = done.record.jobs.filter(_.description.contains("eager build"))
    assert(eager.size == 1, done.record.jobs)
    val ms = eager.head.end - eager.head.start
    assert(ms >= 300 && ms <= done.seconds * 1e3, (ms, done.seconds))
    assert(done.record.jobs.size >= 2, "the noop action's job is recorded too")
  }

  test("an unknown name is rejected before any query runs; known names resolve in order") {
    var ran = false
    val registry: Map[String, Bench.Query] = Map(
      "q_a" -> ((s, _) => { ran = true; s.range(1).toDF() }),
      "q_b" -> ((s, _) => { ran = true; s.range(1).toDF() }))
    val e = intercept[IllegalArgumentException](Run.resolve("q_a,nope,q_b", registry)
      .foreach { case (n, q) => Run(spark, "test", n)(Run.noop(q(spark, sfDir))) })
    assert(e.getMessage.contains("unknown query name(s): nope"))
    assert(!ran)
    assert(Run.resolve("q_b,q_a,q_b", registry).map(_._1) == Seq("q_b", "q_a"))
  }

  test("a throwing query run into a dir with a stale copy leaves no dir behind") {
    val boom: Bench.Query = (_, _) => throw new RuntimeException("boom")
    def stale(dir: Path, name: String): String = {
      spark.range(3).toDF().write.parquet(dir.resolve(name).toString)
      assert(Files.isDirectory(dir.resolve(name)))
      dir.toString
    }
    val verify = SparkFixture.tempDir("verify")
    assert(Verify.write(spark, sfDir, stale(verify, "q_boom"), "q_boom", boom).isLeft)
    assert(!Files.exists(verify.resolve("q_boom")))
    val stress = SparkFixture.tempDir("stress")
    val failures = Stress.measure(spark, "q_boom", boom, sfDir,
      stale(stress, "q_boom"), spill = false)
    assert(failures.exists(_.contains("boom")), failures)
    assert(!Files.exists(stress.resolve("q_boom")))
  }
}
