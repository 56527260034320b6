package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** O2 — the engine-side half of the reference's `@daily` Airflow DAG
  * (`stock_scraper_dag.py:10-42`): one scheduled invocation that
  * ingests whatever CSV files have landed since the last run, cleans
  * them with the pinned T1–T6 rules, and refreshes the warehouse
  * table, then exits.
  *
  * Split of responsibilities (the SURVEY §2A boundary, made concrete):
  * the ORCHESTRATOR only says "run once now"; INCREMENTALITY is the
  * engine's — the file source tracks already-seen input files in the
  * streaming checkpoint, `Trigger.AvailableNow` drains exactly the
  * backlog through that checkpointed path and terminates. A crashed
  * run resumes from the checkpoint; a double-fired run is a no-op
  * (zero new files → zero-row batches). That is strictly stronger
  * than the reference's cron semantics, where a re-fire re-scrapes
  * and re-truncates blindly.
  *
  * The documented schedule line (system crontab or any scheduler that
  * can say "run this command daily"):
  *
  * {{{
  * # m h dom mon dow  command            — daily at 00:05 UTC, like the DAG
  * 5 0 * * * spark-submit --class graft.tools.DailyRunner graft.jar \
  *   /data/landing/stock_csv /warehouse/stock_table /warehouse/_ckpt/stock_daily
  * }}}
  *
  * At 100 TB the same three paths point at object storage; nothing in
  * the run is driver-materialized (foreachBatch writes a partitioned
  * overwrite per micro-batch), so the daily increment streams through
  * executors regardless of backlog size.
  */
object DailyRunner {

  /** The landing-zone CSV schema, all-string: typing is [[graft.etl
    * .StockEtl.clean]]'s job (raw layer ≙ pandas object dtype), and a
    * streaming source cannot infer schemas. Header drift (`Vol.`,
    * `Change %`) is canonicalized by clean's drift map, so the schema
    * here names the RAW headers exactly as the reference emits them. */
  private val rawSchema = StructType(Seq(
    "Date", "Price", "Open", "High", "Low", "Vol.", "Change %",
    "stock_name").map(StructField(_, StringType)))

  /** One scheduled run: drain all unseen CSV files under `csvDir`
    * through clean → warehouse refresh, then return (files may be the
    * whole landing zone on day one, one file on a normal day, zero on
    * a double-fire). Returns the number of rows loaded by this run.
    *
    * Each micro-batch is one Spark job: the partitioned write. Its row
    * count comes from the write itself (an observed metric), which is
    * the reference's post-load `num_rows` check (dump_bigq.py:148-149)
    * without a second pass over the data. */
  def runOnce(spark: SparkSession, csvDir: String, tablePath: String,
              checkpointDir: String): Long = {
    var loaded = 0L
    val q = spark.readStream
      .option("header", "true")
      .schema(rawSchema)
      .csv(csvDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        import org.apache.spark.sql.functions.{coalesce, col, lit}
        // Unparseable dates get a sentinel partition instead of Hive's
        // default-partition directory — auditable, and the partition
        // column stays non-null for pruning.
        val cleaned = graft.etl.StockEtl.clean(batch)
          .withColumn("Date", coalesce(col("Date"),
            lit("1970-01-01").cast("date")))
        // Dynamic partition overwrite by trading date: a daily
        // increment rewrites only the dates it carries — the 100 TB
        // shape of the reference's WRITE_TRUNCATE refresh. An empty
        // batch (a header-only file) writes no partition.
        loaded += graft.etl.StockEtl.overwritePartitioned(cleaned, tablePath, "Date")
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    loaded
  }

  /** LIVE extract half (S1–S8 against real sockets): fetch the root
    * page, resolve its link table to per-stock sources, scrape each
    * with retry + pacing, and land the raw all-string rows as CSV in
    * `landingDir` — exactly the files [[runOnce]] then drains. The
    * fetcher is [[graft.sources.HtmlTableIngest.httpFetcher]]; in an
    * egress-less environment the root fetch throws and [[main]] exits
    * with a clean `"skipped"` line instead of failing the schedule.
    * Returns the number of raw rows landed. */
  def scrapeOnce(spark: SparkSession, rootUrl: String, landingDir: String,
      paceMs: Long = 200L, backoffMs: Long = 500L): Long = {
    import graft.sources.HtmlTableIngest
    val root = HtmlTableIngest.fetchWithRetry(
      HtmlTableIngest.httpFetcher(rootUrl), backoffMs = backoffMs)
    val base = {
      val u = java.net.URI.create(rootUrl)
      s"${u.getScheme}://${u.getAuthority}"
    }
    val sources = HtmlTableIngest.sourcesFromRoot(root, base,
      url => HtmlTableIngest.httpFetcher(url))
    val raw = HtmlTableIngest.ingest(spark, sources,
      paceMs = paceMs, backoffMs = backoffMs)
    if (raw.columns.isEmpty) 0L
    else {
      // Append-mode CSV: each scheduled scrape lands NEW part files,
      // which the checkpointed drain recognizes as the day's backlog.
      raw.write.mode("append").option("header", "true").csv(landingDir)
      raw.count()
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.get()
    args.toList match {
      // --scrape <rootUrl> <landingDir> [<tablePath> <ckpt>]: live
      // extract, then (optionally) the drain in the same invocation —
      // the one-command spelling of the reference's whole DAG.
      case "--scrape" :: rootUrl :: landingDir :: rest =>
        val scraped =
          try Some(scrapeOnce(spark, rootUrl, landingDir))
          catch { case e: Throwable =>
            println(s"""{"daily_run":"skipped","reason":"no egress or root unreachable: ${e.getClass.getSimpleName}"}""")
            None
          }
        scraped.foreach { n =>
          val drained = rest match {
            case tablePath :: ckpt :: Nil =>
              val r = runOnce(spark, landingDir, tablePath, ckpt)
              s""","rows_loaded":$r,"table":"$tablePath""""
            case _ => ""
          }
          println(s"""{"daily_run":"ok","rows_scraped":$n$drained}""")
        }
      case csvDir :: tablePath :: ckpt :: _ =>
        val n = runOnce(spark, csvDir, tablePath, ckpt)
        // The reference's post-load row-count verification
        // (dump_bigq.py:148-149), as the run's one observable line.
        println(s"""{"daily_run":"ok","rows_loaded":$n,"table":"$tablePath"}""")
      case other =>
        System.err.println(
          s"usage: <csvDir> <tablePath> <ckpt> | --scrape <rootUrl> <landingDir> [<tablePath> <ckpt>]; got $other")
    }
    spark.stop()
  }
}
