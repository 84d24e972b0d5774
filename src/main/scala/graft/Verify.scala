package graft
import scala.util.control.NonFatal
import java.nio.file.{Files, Paths}
import graft.engine.Context
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg (local iteration only): comma-separated query names
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_NO_BROADCAST=1: verify under the CLUSTER-SCALE join
    // plan. At 100 TB no fact-table side fits a broadcast, so the plans
    // that actually run there are sort-merge/shuffled-hash — locally AQE
    // broadcasts instead, which leaves that plan shape unverified unless
    // forced. Explicit broadcast() hints in operators keep their bounded
    // broadcasts (those ARE the declared scale plan).
    val noBroadcast =
      if (sys.env.get("SPARK_GRAFT_NO_BROADCAST").contains("1"))
        Map("spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
      else Map.empty[String, String]
    val spark = Context.session(s"local[$cpus]", cpus.toInt, noBroadcast)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally Context.isolate(spark)
    }
    writeOracleSql(outDir)
    spark.stop()
  }

  /** Write every query's DuckDB twin to `<outDir>/oracle_sql.json`, the
    * file tools/check.py and the driver read. */
  def writeOracleSql(outDir: String): Unit = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
