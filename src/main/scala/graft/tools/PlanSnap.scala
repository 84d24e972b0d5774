package graft.tools

import graft.engine.Context

/** Optimization-round evidence tool: write `.explain("formatted")` output
  * for the named contract queries to `<outDir>/<query>_<tag>.txt` — the
  * plans/r12 before/after artifacts the round's judge checks claims
  * against.
  *
  * Usage: runMain graft.tools.PlanSnap <outDir> <tag> <q1,q2,...> [sfDir]
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args(2).split(",")
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.001"
    val spark = Context.session(s"local[${Context.cpus}]", Context.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val formatted = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"), formatted)
        println(s"[plansnap] wrote $outDir/${name}_$tag.txt")
      } catch { case e: Throwable =>
        println(s"[plansnap] $name FAILED: ${e.getMessage}")
      } finally Context.isolate(spark)
    }
    spark.stop()
  }
}
