package graft

import java.io.IOException
import java.net.URI
import java.nio.file.{Files, Path => NioPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.core.{GraftLocalFileSystem, NioRawLocalFileSystem}
import graft.tools.DailyRunner

/** `GraftSession` makes `file:` a [[GraftLocalFileSystem]], which sets
  * permissions through java.nio instead of forking `chmod`. Everything
  * it writes must get the modes Hadoop's own local filesystem (the
  * shell path) gives under the same umask, keep its `.crc` siblings,
  * and keep the bits GNU `chmod` keeps. */
class LocalFsSpec extends SparkTestBase {
  import DailyIncrementSpec._

  private def graftFs: FileSystem =
    FileSystem.get(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)

  /** Hadoop's own checksummed local filesystem, uncached. */
  private def stockFs: LocalFileSystem = {
    val fs = new LocalFileSystem()
    fs.initialize(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    fs
  }

  /** Runs `body` with the session on Hadoop's own local filesystem
    * (uncached) and Spark's default, FileContext-based checkpoint
    * manager: the shell path. */
  private def onStockFs[T](body: => T): T = {
    val stock = Seq(
      "fs.file.impl" -> classOf[LocalFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true",
      "spark.sql.streaming.checkpointFileManagerClass" ->
        ("org.apache.spark.sql.execution.streaming.checkpointing." +
          "FileContextBasedCheckpointFileManager"))
    val prev = stock.map { case (k, _) => k -> spark.conf.getOption(k) }
    stock.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def mode(p: NioPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Every (kind, mode) under `root`, kind one of dir, file, crc. */
  private def modes(root: NioPath): Set[(String, String)] =
    Files.walk(root).iterator().asScala.filter(_ != root).map { p =>
      val kind =
        if (Files.isDirectory(p)) "dir"
        else if (p.getFileName.toString.endsWith(".crc")) "crc"
        else "file"
      kind -> Integer.toOctalString(mode(p))
    }.toSet

  test("the session's file: filesystem is GraftLocalFileSystem over the java.nio raw one") {
    val confs = Seq(spark.sparkContext.hadoopConfiguration,
      spark.sessionState.newHadoopConf(), new org.apache.hadoop.conf.Configuration())
    confs.foreach { c =>
      val fs = FileSystem.get(URI.create("file:///"), c)
      assert(fs.getClass == classOf[GraftLocalFileSystem], s"got ${fs.getClass}")
      assert(fs.asInstanceOf[LocalFileSystem].getRawFileSystem
        .isInstanceOf[NioRawLocalFileSystem])
    }
    onStockFs {
      val stock = FileSystem.get(URI.create("file:///"), spark.sessionState.newHadoopConf())
      assert(stock.getClass == classOf[LocalFileSystem], "the shell-path reference is not stock")
    }
  }

  test("a file and a directory get the shell path's modes and keep their .crc") {
    val root = tempDir("graft_localfs")
    val (dirPerm, filePerm) = (new FsPermission(Integer.parseInt("750", 8).toShort),
      new FsPermission(Integer.parseInt("640", 8).toShort))
    /** A default-mode and an explicit-mode directory and file. */
    def make(fs: FileSystem, side: String): NioPath = {
      val d = root.resolve(side)
      def p(rel: String) = new Path(d.resolve(rel).toUri)
      assert(fs.mkdirs(p("a/b")))
      fs.create(p("a/b/f.txt")).close()
      assert(fs.mkdirs(p("c/d"), dirPerm))
      fs.create(p("c/d/g.txt"), filePerm, true, 4096, 1.toShort, 1L << 20, null).close()
      d
    }
    val graft = make(graftFs, "graft")
    val stock = make(stockFs, "stock")
    assert(Files.exists(graft.resolve("a/b/.f.txt.crc")), "the .crc sibling is missing")
    assert(modes(graft) == modes(stock))
    assert(Integer.toOctalString(mode(graft.resolve("c/d"))) == "750")
    assert(Integer.toOctalString(mode(graft.resolve("c/d/g.txt"))) == "640")
    assert(modes(graft).map(_._1) == Set("dir", "file", "crc"))
  }

  test("a partitioned parquet write and a streaming checkpoint get the shell path's modes") {
    val root = tempDir("graft_localfs_etl")
    def runDaily(side: String): NioPath = {
      val d = root.resolve(side)
      val landing = d.resolve("landing"); Files.createDirectories(landing)
      land(landing, "day1.csv", CanonicalHeader,
        bar("Jan 05, 2099", "1,234.50", "2.5K", "+0.52%", "Alpha"),
        bar("Jan 06, 2099", "1,240.00", "763.44M", "-0.99%", "Alpha"))
      val n = DailyRunner.runOnce(spark, landing.toString,
        d.resolve("table").toString, d.resolve("ckpt").toString)
      assert(n == 2L)
      d
    }
    val graft = runDaily("graft")
    val stock = onStockFs(runDaily("stock"))
    for (part <- Seq("table", "ckpt")) {
      val g = modes(graft.resolve(part))
      assert(g == modes(stock.resolve(part)), s"$part modes differ")
      assert(g.map(_._1) == Set("dir", "file", "crc"), s"$part: $g")
    }
  }

  test("the sticky bit round-trips, as on the shell path") {
    val root = tempDir("graft_localfs_sticky")
    val sticky = new FsPermission(Integer.parseInt("1755", 8).toShort)
    for ((fs, side) <- Seq(graftFs -> "graft", stockFs -> "stock")) {
      val d = root.resolve(side); Files.createDirectories(d)
      fs.setPermission(new Path(d.toUri), sticky)
      assert(Integer.toOctalString(mode(d)) == "1755", side)
    }
  }

  test("a directory made under a setgid parent keeps its setgid bit, as GNU chmod does") {
    val root = tempDir("graft_localfs_setgid")
    Files.setAttribute(root, "unix:mode", Int.box(Integer.parseInt("2775", 8)))
    assume((mode(root) & Integer.parseInt("2000", 8)) != 0, "the filesystem drops setgid")
    for ((fs, side) <- Seq(graftFs -> "graft", stockFs -> "stock")) {
      val d = root.resolve(side)
      assert(fs.mkdirs(new Path(d.toUri)))
      assert(Integer.toOctalString(mode(d)) == "2755", side)
    }
  }

  test("setPermission on a missing path throws an IOException") {
    val missing = new Path(tempDir("graft_localfs_missing").resolve("absent").toUri)
    intercept[IOException](graftFs.setPermission(missing, FsPermission.getDefault))
  }
}
