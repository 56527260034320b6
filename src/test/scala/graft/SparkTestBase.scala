package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared session per JVM (suites run sequentially in the forked
  * test JVM); built through GraftSession so tests see the same pinned
  * semantics as the graded entry points. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = graft.core.GraftSession.get("4")
  lazy val sf: String = "/root/testdata/sf0.001"

  private val tempDirs = new ConcurrentLinkedQueue[Path]

  /** A fresh directory in `java.io.tmpdir`, removed with everything
    * under it when the suite ends (lazy frames of later tests of the
    * suite may still read it). */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  override def afterAll(): Unit =
    try tempDirs.forEach(d => org.apache.commons.io.FileUtils.deleteDirectory(d.toFile))
    finally super.afterAll()
}
