package graft

import org.apache.spark.sql.SparkSession
import graft.engine.Context

/** One shared SparkSession across all suites, built by the production
  * session builder so tests run the engine config the mains run. */
object SparkFixture {
  lazy val spark: SparkSession = Context.session("local[4]", 4)
  val sfDir = "/root/testdata/sf0.001"
}
