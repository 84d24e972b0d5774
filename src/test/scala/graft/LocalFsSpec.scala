package graft

import java.io.IOException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, LinkOption, Path => JPath}
import java.sql.Timestamp
import java.util.EnumSet
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileAlreadyExistsException, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{ForkFreeLocalFileSystem, ForkFreeLocalFs}
import graft.streaming.Streams
import graft.tools.ProcessStarts

/** The fork-free `file:` filesystem ([[ForkFreeLocalFileSystem]],
  * [[ForkFreeLocalFs]]) behaves as Hadoop's stock `LocalFileSystem` and
  * `LocalFs` do, and local stream and parquet writes start no `chmod` or
  * `readlink` through it. */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  private val root = URI.create("file:///")

  /** The session's Hadoop conf, with `umask` when one is given. */
  private def conf(umask: Option[String] = None): Configuration = {
    val c = new Configuration(spark.sparkContext.hadoopConfiguration)
    umask.foreach(c.set("fs.permissions.umask-mode", _))
    c
  }

  /** (stock, fork-free), each built directly — not through Hadoop's
    * JVM-wide FileSystem cache. */
  private def fileSystems(c: Configuration): (FileSystem, FileSystem) = {
    val stock = new LocalFileSystem()
    stock.initialize(root, c)
    val ours = new ForkFreeLocalFileSystem()
    ours.initialize(root, c)
    (stock, ours)
  }

  private def fileContexts(c: Configuration): (FileContext, FileContext) = {
    val stockConf = new Configuration(c)
    stockConf.set("fs.AbstractFileSystem.file.impl",
      "org.apache.hadoop.fs.local.LocalFs")
    (FileContext.getFileContext(AbstractFileSystem.get(root, stockConf), c),
      FileContext.getFileContext(new ForkFreeLocalFs(root, c), c))
  }

  /** A status's fields (FileStatus.equals compares only the path), or the
    * exception's class. */
  private def outcome(status: => FileStatus): String =
    try {
      val s = status
      Seq(s.getPath, s.isFile, s.isDirectory, s.isSymlink,
        if (s.isSymlink) s.getSymlink else "", s.getLen,
        s.getModificationTime, s.getPermission, s.getOwner, s.getGroup)
        .mkString("|")
    } catch { case e: IOException => e.getClass.getName }

  private def write(fc: FileContext, p: Path, text: String): Unit = {
    val out = fc.create(p, EnumSet.of(CreateFlag.CREATE))
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  /** Every entry under `dir` (checksum files too) with its mode bits,
    * sticky bit included, and a file's content. */
  private def snapshot(dir: JPath): Map[String, String] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(_ != dir).map { p =>
      val mode = Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS)
        .asInstanceOf[Int] & 0xfff
      val body = if (Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc"))
        " " + new String(Files.readAllBytes(p), UTF_8) else ""
      dir.relativize(p).toString -> f"$mode%04o$body"
    }.toMap
    finally walk.close()
  }

  test("status and link status equal the stock filesystem's on files, dirs, symlinks and missing paths") {
    val dir = SparkFixture.tempDir("graftlocalfs")
    Files.write(dir.resolve("file"), "x".getBytes(UTF_8))
    Files.createDirectory(dir.resolve("dir"))
    Files.createSymbolicLink(dir.resolve("link"), dir.resolve("file"))
    Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("nowhere"))
    val names = Seq("file", "dir", "link", "dangling", "missing")
    val c = conf()
    val (stockFs, ourFs) = fileSystems(c)
    val (stockFc, ourFc) = fileContexts(c)
    for (name <- names; p <- Seq(new Path(dir.resolve(name).toString),
        new Path(dir.resolve(name).toUri))) {
      val cases = Seq(
        "FileSystem.getFileStatus" -> ((fs: FileSystem) => fs.getFileStatus(p)),
        "FileSystem.getFileLinkStatus" -> ((fs: FileSystem) => fs.getFileLinkStatus(p)))
      for ((what, f) <- cases)
        assert(outcome(f(ourFs)) == outcome(f(stockFs)), s"$what $p")
      val fcCases = Seq(
        "FileContext.getFileStatus" -> ((fc: FileContext) => fc.getFileStatus(p)),
        "FileContext.getFileLinkStatus" -> ((fc: FileContext) => fc.getFileLinkStatus(p)))
      for ((what, f) <- fcCases)
        assert(outcome(f(ourFc)) == outcome(f(stockFc)), s"$what $p")
    }
    // the symlink cases above did reach a real link
    assert(ourFs.getFileLinkStatus(new Path(dir.resolve("link").toString)).isSymlink)
    assert(ourFs.getFileLinkStatus(new Path(dir.resolve("dangling").toString)).isSymlink)
  }

  test("create, mkdirs and setPermission leave the stock filesystem's modes under the session umask and 027") {
    for (umask <- Seq(None, Some("027"))) {
      val c = conf(umask)
      val (stockFs, ourFs) = fileSystems(c)
      val (stockFc, ourFc) = fileContexts(c)
      def run(fs: FileSystem, fc: FileContext): Map[String, String] = {
        val dir = SparkFixture.tempDir("graftperm")
        def p(name: String) = new Path(dir.resolve(name).toString)
        fs.create(p("fs_file")).close()
        fs.create(p("fs_file640"), new FsPermission("640"), true, 4096,
          1.toShort, 1L << 20, null).close()
        fs.mkdirs(p("fs_dir/a/b"))
        fs.mkdirs(p("fs_dir750"), new FsPermission("750"))
        fs.create(p("fs_chmod")).close()
        fs.setPermission(p("fs_chmod"), new FsPermission("600"))
        fs.mkdirs(p("fs_sticky"))
        fs.setPermission(p("fs_sticky"), new FsPermission("1777"))
        write(fc, p("fc_file"), "f")
        fc.create(p("fc_file640"), EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.perms(new FsPermission("640"))).close()
        fc.mkdir(p("fc_dir/a/b"), FsPermission.getDirDefault, true)
        snapshot(dir)
      }
      val stock = run(stockFs, stockFc)
      assert(run(ourFs, ourFc) == stock, s"umask $umask")
      assert(stock("fs_sticky").startsWith("1"), stock)
    }
  }

  test("FileContext rename: overwrite replaces, no-overwrite onto a file throws, as stock") {
    val (stockFc, ourFc) = fileContexts(conf())
    def run(fc: FileContext): (Map[String, String], String) = {
      val dir = SparkFixture.tempDir("graftrename")
      def p(name: String) = new Path(dir.resolve(name).toString)
      write(fc, p("a"), "A")
      write(fc, p("b"), "B")
      fc.rename(p("a"), p("b"), Options.Rename.OVERWRITE)
      write(fc, p("c"), "C")
      val refused =
        try { fc.rename(p("c"), p("b")); "renamed" }
        catch { case e: IOException => e.getClass.getName }
      fc.rename(p("c"), p("d"))
      (snapshot(dir), refused)
    }
    val stock = run(stockFc)
    assert(run(ourFc) == stock)
    assert(stock._2 == classOf[FileAlreadyExistsException].getName)
    assert(stock._1.map { case (k, v) => k -> v.drop(5) }
      .filter(_._2.nonEmpty) == Map("b" -> "A", "d" -> "C"))
  }

  test("a watermarked dedup stream and a parquet write start no chmod or readlink") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = SparkFixture.tempDir("graftforks")
    def tm(min: Int) = new Timestamp(Timestamp.valueOf("2024-01-01 10:00:00").getTime + min * 60000L)
    val (rows, procs) = ProcessStarts.record {
      val mem = MemoryStream[Streams.Event]
      val query = Streams.streamingDedup(mem.toDS().toDF(),
          Seq("user_id", "event_type"), watermark = "10 minutes")
        .writeStream.outputMode("append").format("memory")
        .option("checkpointLocation", dir.resolve("checkpoint").toString)
        .queryName("fork_dedup_out").start()
      try {
        mem.addData(Streams.Event(1L, tm(0), 7L, "click", 1.0),
          Streams.Event(2L, tm(1), 7L, "click", 2.0))
        query.processAllAvailable()
        mem.addData(Streams.Event(3L, tm(2), 7L, "click", 3.0),
          Streams.Event(4L, tm(3), 8L, "view", 4.0))
        query.processAllAvailable()
      } finally query.stop()
      spark.range(100).write.parquet(dir.resolve("out").toString)
      try spark.table("fork_dedup_out").count()
      finally spark.catalog.dropTempView("fork_dedup_out")
    }
    assert(rows == 2)
    val forks = ProcessStarts.grouped(procs).filter { case (c, _) =>
      c.startsWith("chmod") || c.startsWith("readlink") }
    assert(forks.isEmpty, s"processes started: ${ProcessStarts.grouped(procs)}")
  }
}
