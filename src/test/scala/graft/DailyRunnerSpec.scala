package graft

import java.nio.file.Files

/** O2: the scheduler-shaped daily run. What the reference delegates to
  * Airflow (`stock_scraper_dag.py`) the engine answers with a
  * checkpointed AvailableNow drain — these tests pin the three
  * properties a cron-fired run must have: (1) day-one backlog load
  * equals the batch pipeline, (2) a double-fire is a no-op (the
  * checkpoint, not the orchestrator, owns incrementality), (3) newly
  * landed files are picked up by the next fire without touching
  * already-loaded partitions' correctness. */
class DailyRunnerSpec extends SparkTestBase {

  test("daily run loads the landing zone, is idempotent, and picks up new files") {
    val root = tempDir("graft-daily").toString
    val landing = s"$root/landing"; val table = s"$root/table"
    val ckpt = s"$root/ckpt"
    new java.io.File(landing).mkdirs()
    // day 1: the committed stock fixture lands
    Files.copy(
      java.nio.file.Paths.get(graft.etl.StockEtl.goldenCsv),
      java.nio.file.Paths.get(s"$landing/day1.csv"))

    val n1 = graft.tools.DailyRunner.runOnce(spark, landing, table, ckpt)
    val batchRows = graft.etl.StockEtl
      .clean(graft.etl.StockEtl.readRawCsv(spark, s"$landing/day1.csv"))
      .count()
    assert(n1 == batchRows, "streaming drain must equal the batch clean")
    assert(spark.read.parquet(table).count() == batchRows)

    // double-fire: no new files -> no rows loaded, table untouched
    val n2 = graft.tools.DailyRunner.runOnce(spark, landing, table, ckpt)
    assert(n2 == 0L, "re-fired run with no new files must load nothing")
    assert(spark.read.parquet(table).count() == batchRows)

    // day 2: one new bar lands for a NEW date; the next fire loads
    // only it, and dynamic partition overwrite leaves day-1 dates alone
    Files.writeString(java.nio.file.Paths.get(s"$landing/day2.csv"),
      "Date,Price,Open,High,Low,Vol.,Change %,stock_name\n" +
        "\"Jan 02, 2099\",\"101.50\",\"100.00\",\"102.00\",\"99.50\",1.5M,+1.50%,Testco\n")
    val n3 = graft.tools.DailyRunner.runOnce(spark, landing, table, ckpt)
    assert(n3 == 1L, s"expected exactly the newly landed row, got $n3")
    val after = spark.read.parquet(table)
    assert(after.count() == batchRows + 1)
    import org.apache.spark.sql.functions.col
    val newRow = after.filter(col("stock_name") === "Testco").collect()
    assert(newRow.length == 1 &&
      newRow(0).getAs[Double]("Price") == 101.5 &&
      newRow(0).getAs[Double]("Vol") == 1500000.0)
  }
}
