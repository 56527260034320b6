package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}

import graft.etl.StockEtl
import graft.tools.DailyRunner

/** The daily pipeline forks no Hadoop `Shell` child process: without
  * Hadoop's native library the stock local filesystem forks `chmod`
  * per file and directory it creates, and the FileContext checkpoint
  * manager forks `readlink` per checkpoint rename (about 40 forks per
  * one-file increment). A JFR recording of `jdk.ProcessStart` events,
  * with stack traces, around a backfill, an increment, a double-fire
  * and a partitioned overwrite must hold no event whose stack passes
  * through `org.apache.hadoop.util.Shell`. */
class ShellForkSpec extends SparkTestBase {
  import DailyIncrementSpec._

  /** The `jdk.ProcessStart` events of this JVM while `body` ran. */
  private def processStarts(body: => Unit): Seq[RecordedEvent] = {
    val r = new Recording()
    r.enable("jdk.ProcessStart").withStackTrace()
    val out = tempDir("graft_jfr").resolve("fork.jfr")
    r.start()
    try body
    finally { r.stop(); r.dump(out); r.close() }
    RecordingFile.readAllEvents(out).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
  }

  private def viaHadoopShell(e: RecordedEvent): Boolean =
    Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
      _.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell")))

  test("the recording sees a Hadoop Shell fork (positive control)") {
    val starts = processStarts(org.apache.hadoop.util.Shell.execCommand("true"): Unit)
    assert(starts.filter(viaHadoopShell).map(_.getString("command")).contains("true"),
      starts.map(_.getString("command")))
  }

  test("backfill, increment, double-fire and partitioned overwrite fork no Hadoop Shell") {
    spark.sparkContext // session start forks `setsid` and `getconf`; not recorded
    val root = tempDir("graft_fork")
    val landing = root.resolve("landing"); Files.createDirectories(landing)
    def run(): Long = DailyRunner.runOnce(spark, landing.toString,
      root.resolve("table").toString, root.resolve("ckpt").toString)
    val starts = processStarts {
      land(landing, "day1.csv", CanonicalHeader,
        bar("Jan 05, 2099", "1,234.50", "2.5K", "+0.52%", "Alpha"),
        bar("Jan 06, 2099", "1,240.00", "763.44M", "-0.99%", "Alpha"))
      land(landing, "day2.csv", DriftedHeader,
        bar("Jan 08, 2099", "88.10", "1.1B", "+0.10%", "Beta"))
      assert(run() == 3L)
      land(landing, "day3.csv", CanonicalHeader,
        bar("Jan 13, 2099", "1,250.25", "800.00M", "+2.03%", "Alpha"))
      assert(run() == 1L)
      assert(run() == 0L)
      val bars = StockEtl.clean(StockEtl.readRawCsv(spark,
        landing.resolve("day1.csv").toString))
      assert(StockEtl.overwritePartitioned(bars, root.resolve("bars").toString,
        "stock_name") == 2L)
    }
    val shell = starts.filter(viaHadoopShell)
    assert(shell.isEmpty, s"${shell.size} Hadoop Shell forks: " +
      shell.map(_.getString("command")).groupBy(_.takeWhile(_ != ' ')).view
        .mapValues(_.size).toMap)
  }
}
