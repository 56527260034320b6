package graft.tools

import org.apache.spark.sql.functions._

import graft.core.{GraftSession, ScratchDirs, Tables}
import graft.etl.StockEtl
import graft.queries.LlmText

/** End-to-end walkthrough of the library for a user of the reference:
  * the reference's daily pipeline (scrape-shaped CSV → clean →
  * warehouse) followed by warehouse analytics and an LLM-data pass.
  *
  *   sbt "runMain graft.tools.Demo [sfDir]"
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get()
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")

    // 1. The reference pipeline (dump_bigq.py / run_pipeline), one lazy plan.
    val warehouse = ScratchDirs.path(spark, "graft_demo_stock", dir)
    val table = StockEtl.runPipeline(spark, StockEtl.goldenCsv, warehouse)
    println(s"[demo] stock warehouse loaded: ${table.count()} rows")

    // 2. The SQL the reference delegated to its warehouse.
    table.createOrReplaceTempView("stockdata")
    spark.sql(
      """SELECT stock_name, ROUND(AVG(Price), 2) AS avg_price,
        |       ROUND(SUM(Vol) / 1e9, 2) AS vol_bn
        |FROM stockdata GROUP BY stock_name ORDER BY stock_name""".stripMargin)
      .show(truncate = false)

    // 3. Star-schema analytics over the fixture warehouse.
    Tables.registerAll(spark, dir)
    spark.sql(
      """SELECT r_name, COUNT(*) AS customers,
        |       ROUND(AVG(c_acctbal), 2) AS avg_balance
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin).show()

    // 4. LLM-data pass: near-dup clusters and the surviving corpus.
    val clusters = LlmText.dedupClusters(spark, dir)
    val survivors = LlmText.dedupApply(spark, dir)
    println(s"[demo] near-dup clustered docs: ${clusters.count()}, " +
      s"corpus after dedup: ${survivors.count()} " +
      s"(of ${Tables.load(spark, dir, "documents").count()})")
    clusters.filter(!col("is_keeper")).show(5)

    spark.stop()
  }
}
