package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Bridge
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Stages

/** `Stages.record` against the raw listener event stream, its scoping to
  * the body, and stages skipped through shuffle reuse. */
class StagesSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark

  /** A shuffle (partition by g) feeding a whole-partition window frame:
    * every 10k-row group sits in the window buffer at once. */
  private def shuffleWindow() =
    spark.range(0, 40000, 1, 4).select((col("id") % 4).as("g"), col("id"))
      .select(col("g"), sum("id").over(Window.partitionBy("g")).as("s"))
      .write.format("noop").mode("overwrite").save()

  /** The record of `shuffleWindow()` and what a counting listener saw of
    * the same run: (successful tasks, memory + disk spill bytes). */
  private def recordVsListener(): (Stages.Record, Int, Long) = {
    var tasks = 0
    var spill = 0L
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        if (e.taskInfo.successful && e.taskMetrics != null) {
          tasks += 1
          spill += e.taskMetrics.memoryBytesSpilled + e.taskMetrics.diskBytesSpilled
        }
      }
    }
    val sc = spark.sparkContext
    Bridge.waitUntilEmpty(sc) // earlier suites' events must not reach it
    sc.addSparkListener(listener)
    try {
      val (_, rec) = Stages.record(spark)(shuffleWindow())
      listener.synchronized((rec, tasks, spill))
    } finally sc.removeSparkListener(listener)
  }

  test("the record sees the tasks and spill the raw event stream sees") {
    val keys = Seq("spark.sql.windowExec.buffer.in.memory.threshold",
      "spark.sql.windowExec.buffer.spill.threshold")
    val (spilled, tasks, spill) =
      try {
        keys.zip(Seq("256", "4096")).foreach { case (k, v) => spark.conf.set(k, v) }
        recordVsListener()
      } finally keys.foreach(spark.conf.unset)
    assert(spilled.tasks > 0 && spilled.tasks == tasks)
    assert(spilled.spillBytes > 0 && spilled.spillBytes == spill)
    assert(spilled.shuffleReadBytes > 0)
    val (plain, plainTasks, plainSpill) = recordVsListener()
    assert(plain.tasks == plainTasks && plain.spillBytes == 0L && plainSpill == 0L)
  }

  test("a record holds none of the jobs or stages that ran before its body") {
    val (_, before) = Stages.record(spark)(spark.range(100).count())
    val (_, rec) = Stages.record(spark)(shuffleWindow())
    assert(before.jobs.nonEmpty && before.stages.nonEmpty && rec.jobs.nonEmpty)
    assert(rec.jobs.map(_.id).min > before.jobs.map(_.id).max)
    assert(rec.stages.map(_.id).min > before.stages.map(_.id).max)
  }

  test("a stage skipped through shuffle reuse contributes no tasks") {
    val rdd = spark.sparkContext.parallelize(1 to 1000, 4)
      .map(i => (i % 7, i)).reduceByKey(_ + _, 3)
    rdd.count() // computes the map side once
    val (n, rec) = Stages.record(spark)(rdd.count())
    assert(n == 7)
    assert(rec.jobs.size == 1 && rec.stages.size == 2)
    val (skipped, ran) = rec.stages.partition(_.tasks.isEmpty)
    assert(skipped.size == 1 && skipped.head.shuffleWriteBytes == 0L)
    assert(ran.head.tasks.size == 3 && rec.tasks == 3)
  }

  test("a query's second back-to-back run compiles no generated code") {
    // a literal no earlier suite used: codegen inlines it, so the first
    // run must compile a class the cache cannot already hold
    val k = 1000003L + System.nanoTime() % 1000003L
    def q() = spark.range(0, 1000, 1, 2).select((col("id") * k).as("x"))
      .groupBy(col("x") % 7).count()
      .write.format("noop").mode("overwrite").save()
    val (_, first) = Stages.record(spark)(q())
    val (_, second) = Stages.record(spark)(q())
    assert(first.codegenCompiles > 0)
    assert(second.codegenCompiles == 0)
  }
}
