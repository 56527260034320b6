package graft

import graft.sources.HtmlTableIngest
import graft.sources.HtmlTableIngest.ScrapeSource
import graft.sources.Sinks

class IngestSpec extends SparkTestBase {

  private def page(rows: String): String =
    s"""<html><body>
       |<table class="datatable other"><tbody>links</tbody></table>
       |<table class="common freeze-column w-full">
       |<thead><tr><th>Date</th><th>Price</th><th>Vol.</th></tr></thead>
       |<tbody>$rows</tbody></table>
       |</body></html>""".stripMargin

  private val goodRows =
    """<tr><td>Mar 07, 2025</td><td>"42,801.72"</td><td>763.44M</td></tr>
      |<tr><td>Mar 06, 2025</td><td>"42,579.08"</td><td>643.88M</td></tr>""".stripMargin

  test("S3/S4: header inference + malformed-row filter") {
    val withBadRow = goodRows +
      "<tr><td>Mar 05, 2025</td><td>only-two-cells</td></tr>"
    val (headers, rows) = HtmlTableIngest.parseTable(page(withBadRow))
    assert(headers == Seq("Date", "Price", "Vol."))
    assert(rows.size == 2) // malformed row dropped
  }

  test("S2: root-page link table → resolved source list") {
    val root =
      """<html><body><table><tbody class="js-datatable large">
        |<tr><td><a href="https://other.example.com/indices/dow">Dow Jones</a></td><td>x</td></tr>
        |<tr><td><a href="/indices/nasdaq-composite">Nasdaq</a></td><td>y</td></tr>
        |<tr><td><a href="indices/sp-500">S&amp;P 500</a></td><td>z</td></tr>
        |<tr><td>no anchor in this row</td><td>w</td></tr>
        |</tbody></table></body></html>""".stripMargin
    val links = HtmlTableIngest.linkTable(root, "https://www.example.com")
    assert(links.map(_.stockName) == Seq("Dow Jones", "Nasdaq", "S&P 500"))
    assert(links.map(_.link) == Seq(
      // absolute href passes through untouched
      "https://other.example.com/indices/dow-historical-data",
      // rooted-relative href prefixes the base
      "https://www.example.com/indices/nasdaq-composite-historical-data",
      // bare-relative href gets base + '/'
      "https://www.example.com/indices/sp-500-historical-data"))
    // anchor-less (malformed) link row dropped, not crashed on
    assert(links.size == 3)
    // single-quoted hrefs and nested tags in the anchor text parse too
    val alt = HtmlTableIngest.linkTable(
      """<tbody class="datatable"><tr><td>
        |<a href='/indices/ftse-100'><b>FTSE</b> 100</a>
        |</td></tr></tbody>""".stripMargin, "https://www.example.com")
    assert(alt == Seq(HtmlTableIngest.StockLink("FTSE 100",
      "https://www.example.com/indices/ftse-100-historical-data")))
    // a page without the datatable tbody fails loudly
    intercept[IllegalArgumentException] {
      HtmlTableIngest.linkTable("<html><tbody class=\"plain\"></tbody></html>",
        "https://www.example.com")
    }
    // S2→S1 glue: the resolved links drive ingest end-to-end
    val byLink = Map(
      "https://other.example.com/indices/dow-historical-data" -> page(goodRows),
      "https://www.example.com/indices/nasdaq-composite-historical-data" -> page(goodRows),
      "https://www.example.com/indices/sp-500-historical-data" -> page(goodRows))
    val sources = HtmlTableIngest.sourcesFromRoot(
      root, "https://www.example.com", link => () => byLink(link))
    val df = HtmlTableIngest.ingest(spark, sources)
    assert(df.count() == 6 &&
      df.select("stock_name").distinct().count() == 3)
  }

  test("S1: fetch retry recovers after transient failures") {
    var calls = 0
    val flaky = () => {
      calls += 1
      if (calls < 3) throw new RuntimeException("transient") else page(goodRows)
    }
    val html = HtmlTableIngest.fetchWithRetry(flaky, maxRetries = 3)
    assert(calls == 3 && html.contains("freeze-column"))
    intercept[RuntimeException] {
      HtmlTableIngest.fetchWithRetry(() => throw new RuntimeException("down"),
        maxRetries = 2)
    }
  }

  test("S5/S6/S7: tagged union-all across sources, failures isolated") {
    val sources = Seq(
      ScrapeSource("Dow Jones", () => page(goodRows)),
      ScrapeSource("Broken", () => throw new RuntimeException("http 500")),
      ScrapeSource("Nasdaq", () => page(goodRows)))
    val df = HtmlTableIngest.ingest(spark, sources)
    assert(df.columns.toSeq == Seq("Date", "Price", "Vol.", "stock_name"))
    assert(df.count() == 4) // 2 rows x 2 healthy sources
    assert(df.select("stock_name").distinct().count() == 2)
    // E-stage output feeds the same clean stage as the CSV path
    val cleaned = graft.etl.StockEtl.clean(
      df.withColumn("Open", df("Price")).withColumn("High", df("Price"))
        .withColumn("Low", df("Price")).withColumn("Change %",
          org.apache.spark.sql.functions.lit("+0.52%")))
    assert(cleaned.filter(cleaned("Vol") === 763440000.0).count() == 2)
  }

  test("K1/JSON-lines sinks round-trip; O3 preview") {
    val tmp = tempDir("graft_sinks").toString
    val df = graft.core.Tables.load(spark, sf, "region")
    Sinks.writeCsv(df, s"$tmp/csv")
    Sinks.writeJsonLines(df, s"$tmp/json")
    val backCsv = spark.read.option("header", "true").csv(s"$tmp/csv")
    val backJson = spark.read.json(s"$tmp/json")
    assert(backCsv.count() == 5 && backJson.count() == 5)
    assert(backCsv.columns.sorted.toSeq == df.columns.sorted.toSeq)
    assert(Sinks.preview(df, 3).length == 3)
  }

  test("L1/L2: warehouse table get-or-create + full refresh") {
    val df = graft.core.Tables.load(spark, sf, "nation")
    val n1 = Sinks.overwriteWarehouseTable(df, "graft_test_nation")
    val n2 = Sinks.overwriteWarehouseTable(df.limit(10), "graft_test_nation")
    assert(n1 == 25 && n2 == 10) // truncate-and-load, not append
    spark.sql("DROP TABLE IF EXISTS graft_test_nation")
  }
}
