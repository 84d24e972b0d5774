package graft

import org.apache.spark.sql.SparkSession
import graft.engine.Context

/** One shared SparkSession across all suites, built by the production
  * session builder so tests run the engine config the mains run. A suite
  * that stops it (ContextSpec checks a restart) gets the next live one. */
object SparkFixture {
  private var live: SparkSession = _
  def spark: SparkSession = synchronized {
    if (live == null || live.sparkContext.isStopped)
      live = Context.session("local[4]", 4)
    live
  }
  val sfDir = "/root/testdata/sf0.001"

  /** A fresh dir under the per-process scratch root, whose shutdown hook
    * deletes it when the test JVM exits. */
  def tempDir(prefix: String): java.nio.file.Path = {
    val root = java.nio.file.Paths.get(Context.scratch("tests"))
    java.nio.file.Files.createDirectories(root)
    java.nio.file.Files.createTempDirectory(root, prefix)
  }
}
