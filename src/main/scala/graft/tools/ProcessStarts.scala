package graft.tools

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** The OS processes a block of code starts, read from a JFR recording of
  * the JDK's `jdk.ProcessStart` events (every `ProcessBuilder.start` in
  * the JVM, on any thread, so Spark's and Hadoop's task threads count
  * too). A forked `chmod` or `readlink` per file operation costs
  * milliseconds that no Spark metric shows; this makes it countable. */
object ProcessStarts {

  /** Runs `body` and returns its value and the command line of every
    * process the JVM started meanwhile, in start order. */
  def record[T](body: => T): (T, Seq[String]) = {
    val r = new Recording()
    try {
      r.enable("jdk.ProcessStart")
      r.start()
      val out = body
      r.stop()
      val f = Files.createTempFile("graft-procs", ".jfr")
      try {
        r.dump(f)
        (out, RecordingFile.readAllEvents(f).asScala.toSeq
          .sortBy(_.getStartTime).map(_.getString("command")))
      } finally Files.deleteIfExists(f)
    } finally r.close()
  }

  /** Commands grouped by program and leading arguments — the words before
    * the first path, so `chmod 0644 /a` and `chmod 0644 /b` count as one
    * `chmod 0644` — largest group first. */
  def grouped(commands: Seq[String]): Seq[(String, Int)] =
    commands.groupBy { c =>
      val words = c.trim.split("\\s+").toSeq
      val program = words.head.substring(words.head.lastIndexOf('/') + 1)
      (program +: words.tail.takeWhile(!_.contains("/"))).mkString(" ")
    }.map { case (k, cs) => (k, cs.size) }.toSeq.sortBy { case (k, n) => (-n, k) }
}
