package graft
import scala.util.control.NonFatal
import java.nio.file.{Files, Paths}
import graft.engine.Context
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg (local iteration only): comma-separated query
    // names; an unknown name is an error, not a silently empty run
    val names: Set[String] =
      if (args.length > 2) args(2).split(",").toSet
      else SparkEntry.queries.keySet
    val unknown = names -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
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
      .filter { case (name, _) => names(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally Context.isolate(spark)
    }
    writeOracleSql(outDir, names)
    spark.stop()
  }

  /** Write the DuckDB twins of `names` (the queries that ran) to
    * `<outDir>/oracle_sql.json`, the file tools/check.py and the driver
    * read; check.py scores every key in it. */
  def writeOracleSql(outDir: String, names: Set[String]): Unit = {
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
    val json = SparkEntry.oracleSql.filter { case (k, _) => names(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
