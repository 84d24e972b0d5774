package graft

import org.apache.spark.sql.SparkSession
import graft.engine.Context

/** Local smoke runner: drives the driver-contract surfaces end-to-end
  * (entry flagship, catalog validation, a SQL round-trip) and prints what
  * it sees. Usage: runMain graft.Smoke */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Context.session()
    val e = SparkEntry.entry(spark)
    println("=== entry() schema ===")
    e.printSchema()
    println("=== entry() result ===")
    e.show(20, truncate = false)
    println(s"entry rows: ${e.count()}")

    val ctx = Context.forSfDir(spark, "/root/testdata/sf0.001")
    println(s"registered tables: ${ctx.tableNames.mkString(", ")}")
    val ok = ctx.sql("SELECT count(*) AS n FROM lineitem").collect()(0).getLong(0)
    println(s"ctx.sql count(lineitem) = $ok")
    try {
      ctx.sql("SELECT * FROM no_such_table")
      println("ERROR: unregistered table did NOT raise")
    } catch {
      case ex: IllegalArgumentException =>
        println(s"unregistered-table validation OK: ${ex.getMessage}")
    }
    spark.stop()
  }
}
