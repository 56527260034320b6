package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** The LIVE S1 path over real sockets: a loopback HTTP server stands
  * in for the scraped site, and [[graft.tools.DailyRunner.scrapeOnce]]
  * runs the production fetcher ([[graft.sources.HtmlTableIngest
  * .httpFetcher]]) through root-link resolution, per-source retry,
  * pacing, S7 isolation, and the landing-zone CSV write — then the
  * checkpointed drain loads the warehouse from what was scraped.
  * This closes the one §2A edge (S1 live sockets) that fixture-fed
  * tests could not reach in an egress-less sandbox.
  */
class LiveIngestSpec extends SparkTestBase {

  private def dataPage(rows: String): String =
    s"""<html><body>
       |<table class="common freeze-column w-full">
       |<thead><tr><th>Date</th><th>Price</th><th>Open</th><th>High</th>
       |<th>Low</th><th>Vol.</th><th>Change %</th></tr></thead>
       |<tbody>$rows</tbody></table>
       |</body></html>""".stripMargin

  private def tr(date: String, p: Double): String =
    f"""<tr><td>$date</td><td>"$p%,.2f"</td><td>"$p%,.2f"</td>
       |<td>"$p%,.2f"</td><td>"$p%,.2f"</td><td>1.2M</td>
       |<td>0.5%%</td></tr>""".stripMargin.replaceAll("\n", "")

  private val rootPage =
    """<html><body><table><tbody class="js-datatable large">
      |<tr><td><a href="/indices/alpha">Alpha</a></td><td>x</td></tr>
      |<tr><td><a href="/indices/beta">Beta</a></td><td>y</td></tr>
      |</tbody></table></body></html>""".stripMargin

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val b = body.getBytes(UTF_8)
    ex.sendResponseHeaders(code, b.length)
    ex.getResponseBody.write(b)
    ex.close()
  }

  test("scrapeOnce drives the real HTTP fetcher end-to-end (retry, S7, landing CSV, drain)") {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val alphaHits = new AtomicInteger(0)
    server.createContext("/", (ex: HttpExchange) =>
      ex.getRequestURI.getPath match {
        case "/" => respond(ex, 200, rootPage)
        // first alpha request 503s: fetchWithRetry must recover
        case "/indices/alpha-historical-data" =>
          if (alphaHits.incrementAndGet() == 1) respond(ex, 503, "busy")
          else respond(ex, 200,
            dataPage(tr("Mar 07, 2025", 42801.72) + tr("Mar 06, 2025", 42579.08)))
        case "/indices/beta-historical-data" =>
          respond(ex, 200, dataPage(tr("Mar 07, 2025", 17303.01)))
        case _ => respond(ex, 404, "not found")
      })
    server.start()
    val port = server.getAddress.getPort
    val tmp = tempDir("graft_live_ingest").toString
    try {
      val landed = graft.tools.DailyRunner.scrapeOnce(spark,
        s"http://127.0.0.1:$port/", s"$tmp/landing",
        paceMs = 0L, backoffMs = 10L)
      assert(landed == 3L, "2 alpha rows (after one retry) + 1 beta row")
      assert(alphaHits.get() == 2, "503 then 200 — exactly one retry")

      // the drain half loads exactly what was scraped
      val loaded = graft.tools.DailyRunner.runOnce(spark,
        s"$tmp/landing", s"$tmp/warehouse", s"$tmp/ckpt")
      assert(loaded == 3L)
      // double-fire is a no-op (checkpoint has seen all files)
      assert(graft.tools.DailyRunner.runOnce(spark,
        s"$tmp/landing", s"$tmp/warehouse", s"$tmp/ckpt") == 0L)
      val names = spark.read.parquet(s"$tmp/warehouse")
        .select("stock_name").distinct().collect().map(_.getString(0)).toSet
      assert(names == Set("Alpha", "Beta"))
    } finally server.stop(0)
  }

  test("httpFetcher: non-2xx throws (so retry/isolation see a failure)") {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => respond(ex, 500, "boom"))
    server.start()
    try {
      val e = intercept[java.io.IOException] {
        graft.sources.HtmlTableIngest.httpFetcher(
          s"http://127.0.0.1:${server.getAddress.getPort}/x")()
      }
      assert(e.getMessage.contains("HTTP 500"))
    } finally server.stop(0)
  }
}
