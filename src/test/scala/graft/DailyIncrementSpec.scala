package graft

import java.nio.file.{Files, Path}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftshims.DatasetShim.drainListeners

import graft.etl.StockEtl
import graft.tools.DailyRunner

/** The daily increment end to end on CSVs written here: a two-file
  * backfill (one file with the drifted `Vol`/`Change` header, one row
  * short of a cell), one increment, a double-fire and a header-only
  * file. Every returned count must equal both the rows the table gained
  * and the batch clean of the same files; a run with nothing new must
  * leave the table's rows as they were; and a non-empty micro-batch is
  * one Spark job — the write, which also counts the rows. */
class DailyIncrementSpec extends SparkTestBase {
  import DailyIncrementSpec._

  private def tableRows(table: String): Seq[String] =
    spark.read.parquet(table).collect().map(_.toString).toSeq.sorted

  private def batchClean(files: Path*): Long =
    files.map(f => StockEtl.clean(StockEtl.readRawCsv(spark, f.toString)).count()).sum

  /** Runs `body` and returns its value with the number of Spark jobs it
    * started. */
  private def countingJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    drainListeners(sc)
    sc.addSparkListener(l)
    try {
      val r = body
      drainListeners(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  test("backfill, increment, double-fire and header-only file count what they load") {
    val root = tempDir("graft-increment")
    val landing = root.resolve("landing"); Files.createDirectories(landing)
    val table = root.resolve("table").toString
    val ckpt = root.resolve("ckpt").toString
    def run(): Long = DailyRunner.runOnce(spark, landing.toString, table, ckpt)

    // Backfill: two files, two header variants, one short row.
    val day1 = land(landing, "day1.csv", CanonicalHeader,
      bar("Jan 05, 2099", "1,234.50", "2.5K", "+0.52%", "Alpha"),
      bar("Jan 06, 2099", "1,240.00", "763.44M", "-0.99%", "Alpha"),
      bar("Jan 07, 2099", "1,199.75", "", "+1.20%", "Alpha"))
    val day2 = land(landing, "day2.csv", DriftedHeader,
      bar("Jan 08, 2099", "88.10", "1.1B", "+0.10%", "Beta"),
      bar("Jan 09, 2099", "89.00", "12,345", "+1.02%", "Beta"),
      // seven cells under an eight-name header
      "\"Jan 12, 2099\",\"90.00\",\"89.00\",\"91.00\",\"88.50\",2.0M,Beta")
    val n1 = run()
    assert(n1 == 6L)
    assert(n1 == batchClean(day1, day2))
    assert(spark.read.parquet(table).count() == n1)

    // One increment on new dates: one micro-batch, one job.
    val day3 = land(landing, "day3.csv", CanonicalHeader,
      bar("Jan 13, 2099", "1,250.25", "800.00M", "+2.03%", "Alpha"),
      bar("Jan 13, 2099", "91.00", "3.3M", "+1.11%", "Beta"))
    val (n3, jobs) = countingJobs(run())
    assert(n3 == 2L)
    assert(n3 == batchClean(day3))
    assert(spark.read.parquet(table).count() == n1 + n3)
    assert(jobs == 1, s"a non-empty micro-batch must run one Spark job, ran $jobs")

    // Double-fire, then a header-only file: nothing loaded, rows unchanged.
    val before = tableRows(table)
    assert(run() == 0L, "a re-fired run with no new files must load nothing")
    assert(tableRows(table) == before)
    land(landing, "day4.csv", CanonicalHeader)
    assert(run() == 0L, "a header-only file must load nothing")
    assert(tableRows(table) == before)
  }
}

object DailyIncrementSpec {
  val CanonicalHeader = "Date,Price,Open,High,Low,Vol.,Change %,stock_name"
  val DriftedHeader = "Date,Price,Open,High,Low,Vol,Change,stock_name"

  /** One scraped-bar line; open/high/low reuse the price cell. */
  def bar(date: String, price: String, vol: String, change: String,
      stock: String): String =
    Seq(s""""$date"""", s""""$price"""", s""""$price"""", s""""$price"""",
      s""""$price"""", vol, change, stock).mkString(",")

  /** Writes `lines` under `header` as `dir/name` and returns its path. */
  def land(dir: Path, name: String, header: String, lines: String*): Path =
    Files.writeString(dir.resolve(name), (header +: lines).map(_ + "\n").mkString)
}
