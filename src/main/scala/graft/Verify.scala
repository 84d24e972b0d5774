package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.engine.{Context, Run}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg (local iteration only): comma-separated query
    // names; an unknown name is an error, not a silently empty run
    val queries =
      if (args.length > 2) Run.resolve(args(2), SparkEntry.queries)
      else SparkEntry.queries.toSeq.sortBy(_._1)
    // SPARK_GRAFT_NO_BROADCAST=1: verify the sort-merge/shuffled-hash join
    // plans that run at 100 TB, where no fact-table side fits a broadcast;
    // explicit broadcast() hints keep their bounded broadcasts
    val noBroadcast =
      if (sys.env.get("SPARK_GRAFT_NO_BROADCAST").contains("1"))
        Map("spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
      else Map.empty[String, String]
    val spark = Context.session(conf = noBroadcast)
    new java.io.File(outDir).mkdirs()
    for ((name, fn) <- queries) write(spark, sfDir, outDir, name, fn)
    writeOracleSql(outDir, queries.map(_._1).toSet)
    spark.stop()
  }

  /** Write query `name`'s result as one parquet file under
    * `<outDir>/<name>`. An earlier run's copy is deleted first, so a query
    * that throws leaves no directory behind and check.py reports it
    * MISSING instead of scoring the stale result. */
  def write(spark: SparkSession, sfDir: String, outDir: String, name: String,
      fn: Bench.Query): Either[Run.Failed, Run.Done[Unit]] = {
    Context.deleteTree(Paths.get(outDir, name))
    Run(spark, "verify", name)(
      fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
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
