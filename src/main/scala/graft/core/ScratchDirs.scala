package graft.core

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** Where every scratch file of the engine lives, and when it goes.
  *
  * Some graded queries stage real files to exercise a storage layout
  * (format round-trips, bucketed and z-ordered layouts, compaction, a
  * transaction log, a blob landing zone) and return a lazy frame that
  * reads them again; streaming queries keep their checkpoints under
  * [[perRun]]. [[path]] is the one place such a path is decided:
  * `<java.io.tmpdir>/graft-<applicationId>/<name>-<digest of dir>`.
  *
  *  - The application id keeps two runs on one host (two JVMs, or two
  *    applications in one JVM) out of each other's files.
  *  - The digest of the input dir keeps one query at two scales in one
  *    application out of each other's files.
  *  - The application's root directory is registered once, on its first
  *    path, and removed with everything under it at JVM exit. Not at
  *    query return: the returned frame still reads the files.
  *
  * `java.io.tmpdir` is read once per application, so `Bench`'s tmpfs
  * pin (set before its session starts) moves the root with it. Two
  * threads running the same query on the same dir in one application
  * still share a path. */
object ScratchDirs {
  private val roots = new ConcurrentHashMap[String, File]

  /** The scratch path `name` of query input `dir` in `s`'s application.
    * Nothing is created; callers write there as they see fit. */
  def path(s: SparkSession, name: String, dir: String): String =
    new File(root(s), s"$name-${digest(dir)}").getPath

  /** A fresh directory under [[path]] for one run of a streaming query,
    * for its checkpoint and staged input. Fresh per run: a checkpoint an
    * earlier `AvailableNow` run drained makes the next run drain nothing
    * and return an empty answer. The caller removes it with [[rm]] once
    * the query has stopped. */
  def perRun(s: SparkSession, name: String, dir: String): String =
    new File(path(s, name, dir), java.util.UUID.randomUUID().toString).getPath

  /** This application's root, removed at JVM exit. */
  private def root(s: SparkSession): File =
    roots.computeIfAbsent(s.sparkContext.applicationId, id => {
      val r = new File(sys.props("java.io.tmpdir"), s"graft-$id")
      Runtime.getRuntime.addShutdownHook(new Thread(() => rm(r)))
      r
    })

  private def digest(dir: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  /** Deletes `f` and everything under it. */
  private[graft] def rm(f: File): Unit = {
    val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
    f.delete(): Unit
  }
}
