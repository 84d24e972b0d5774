package graft.tools

import org.apache.spark.sql.execution.FormattedMode
import graft.engine.{Context, Run}

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
    val queries = Run.resolve(args(2), graft.SparkEntry.queries)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.001"
    val spark = Context.session()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    for ((name, fn) <- queries)
      Run(spark, "plansnap", name)(
        fn(spark, sfDir).queryExecution.explainString(FormattedMode)
      ).foreach { run =>
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"), run.value)
        println(s"[plansnap] wrote $outDir/${name}_$tag.txt")
      }
    spark.stop()
  }
}
