package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import scala.collection.mutable
import graft.engine.Context

/** Drives the SPILL paths — the one 100 TB behavior a 128 GiB local run
  * never exercises naturally: at scale, sort/window/join buffers and
  * sort-based aggregate fallback MUST gracefully go to disk, and the
  * results must not change when they do.
  *
  * Rather than shrinking the heap (fork-dependent, flaky), this forces
  * every spillable operator's documented threshold down so that sf0.1
  * volumes overflow them thousands of rows at a time:
  *   - spark.shuffle.spill.numElementsForceSpillThreshold → UnsafeExternalSorter
  *     (sort exec, sort-based agg fallback)
  *   - spark.sql.windowExec.buffer.{in.memory,spill}.threshold → window buffers
  *   - spark.sql.sortMergeJoinExec.buffer.{in.memory,spill}.threshold → SMJ
  *     buffered-match arrays
  *   - spark.sql.objectHashAggregate.sortBased.fallbackThreshold → ObjectHashAgg
  *     falls back to the spilling sort path after 128 distinct keys
  *
  * Per query it reports wall, rows, and the measured memory/disk spill
  * bytes from task metrics (gate: EVERY query here must actually spill —
  * a zero means the experiment lost its teeth), then dumps each result
  * to parquet + oracle_sql.json so tools/check.py can prove the DuckDB
  * hashes are IDENTICAL under forced spilling.
  *
  * Usage: runMain graft.tools.SpillStress [q1 q2 ...]
  * Then:  python3 tools/check.py /root/testdata/sf0.1 /tmp/graft_spillstress
  */
object SpillStress {
  def main(args: Array[String]): Unit = {
    val names =
      if (args.nonEmpty) args.toSeq
      else Seq("q_sort", "q_tpch_q18", "q_tpch_q9", "q_sessionize",
        "q_array_funcs", "q_dedup_minhash")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = "/tmp/graft_spillstress"
    val spark = Context.session("local[32]", 32, Map(
      // force the spill paths (see scaladoc)
      "spark.shuffle.spill.numElementsForceSpillThreshold" -> "5000",
      "spark.sql.windowExec.buffer.in.memory.threshold" -> "1024",
      "spark.sql.windowExec.buffer.spill.threshold" -> "5000",
      "spark.sql.sortMergeJoinExec.buffer.in.memory.threshold" -> "1024",
      "spark.sql.sortMergeJoinExec.buffer.spill.threshold" -> "5000",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "128",
      // at 100 TB the join sides are big — disable auto-broadcast so the
      // TPC-H joins take the SortMergeJoin path whose sorts/buffers are
      // the spill machinery under test (explicit broadcast() hints in
      // operators keep their bounded broadcasts)
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1"))
    new java.io.File(outDir).mkdirs()

    case class Spill(var mem: Long = 0L, var disk: Long = 0L)
    val byStage = new mutable.HashMap[Int, Spill]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) byStage.synchronized {
          val s = byStage.getOrElseUpdate(e.stageId, Spill())
          s.mem += e.taskMetrics.memoryBytesSpilled
          s.disk += e.taskMetrics.diskBytesSpilled
        }
    })
    def drain(): Unit = { // async listener bus: wait for the totals to settle
      var prev = (-1L, -1L)
      var cur = byStage.synchronized(
        (byStage.valuesIterator.map(_.mem).sum, byStage.valuesIterator.map(_.disk).sum))
      var rounds = 0
      while (cur != prev && rounds < 50) {
        Thread.sleep(100); prev = cur
        cur = byStage.synchronized(
          (byStage.valuesIterator.map(_.mem).sum, byStage.valuesIterator.map(_.disk).sum))
        rounds += 1
      }
    }

    var failures = List.empty[String]
    println(f"${"query"}%-20s ${"wall_s"}%8s ${"rows"}%9s ${"spill_mem_MB"}%13s ${"spill_disk_MB"}%14s ${"spilled_stages"}%14s")
    for (n <- names) {
      byStage.synchronized(byStage.clear())
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      val t0 = System.nanoTime()
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$n")
      val wall = (System.nanoTime() - t0) / 1e9
      val rows = spark.read.parquet(s"$outDir/$n").count()
      Context.isolate(spark)
      drain()
      val (mem, disk, nStages) = byStage.synchronized {
        (byStage.valuesIterator.map(_.mem).sum,
          byStage.valuesIterator.map(_.disk).sum,
          byStage.valuesIterator.count(s => s.mem + s.disk > 0))
      }
      if (mem + disk == 0L)
        failures ::= s"$n: no spill recorded — thresholds lost their teeth"
      println(f"$n%-20s $wall%8.2f $rows%9d ${mem / 1e6}%13.1f ${disk / 1e6}%14.1f $nStages%14d")
    }
    graft.Verify.writeOracleSql(outDir, names.toSet)
    spark.stop()
    if (failures.nonEmpty) {
      failures.foreach(f => System.err.println(s"[spillstress] FAIL $f"))
      sys.exit(1)
    }
  }
}
