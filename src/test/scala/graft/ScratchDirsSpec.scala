package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.Row

import graft.core.ScratchDirs

/** Queries that stage files return a lazy frame that reads them again,
  * so two runs that share a scratch path corrupt each other's answers.
  * `ScratchDirs.path` keys every such path by application and input
  * dir: one query at two scales, or two scratch-writing queries, run at
  * the same time must each give the answer they give alone. */
class ScratchDirsSpec extends SparkTestBase {

  private val sfB = "/root/testdata/sf0.01"

  private def rows(name: String, dir: String): Seq[Row] =
    SparkEntry.queries(name)(spark, dir).collect().toSeq.sortBy(_.toString)

  /** Runs `a` and `b` at once on two threads. */
  private def together[A, B](a: => A, b: => B): (A, B) = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fa = Future(a)
      val fb = Future(b)
      (Await.result(fa, 10.minutes), Await.result(fb, 10.minutes))
    } finally pool.shutdown()
  }

  test("every scratch path lies under the application's root, one per (name, dir)") {
    val root = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-${spark.sparkContext.applicationId}").getPath
    val paths = for (n <- Seq("graft_a", "graft_b"); d <- Seq(sf, sfB))
      yield ScratchDirs.path(spark, n, d)
    paths.foreach { p =>
      assert(new java.io.File(p).getParent == root, s"$p is not under $root")
    }
    assert(paths.distinct.size == 4, s"paths collide: $paths")
    assert(ScratchDirs.path(spark, "graft_a", sf) == paths.head, "a path is not stable")
  }

  test("a frame still reads its own layout after the query ran again at another scale") {
    val alone = rows("scan_orc_roundtrip", sf)
    val first = SparkEntry.queries("scan_orc_roundtrip")(spark, sf)
    rows("scan_orc_roundtrip", sfB)
    assert(first.collect().toSeq.sortBy(_.toString) == alone)
  }

  test("one scratch-writing query at two scales at once gives each scale's own answer") {
    for (q <- Seq("scan_orc_roundtrip", "etl_compact")) {
      val (aloneA, aloneB) = (rows(q, sf), rows(q, sfB))
      assert(aloneA != aloneB, s"$q: the two scales must differ to tell them apart")
      val (a, b) = together(rows(q, sf), rows(q, sfB))
      assert(a == aloneA, s"$q at $sf")
      assert(b == aloneB, s"$q at $sfB")
    }
  }

  test("two different scratch-writing queries at once each give their own answer") {
    val (stockAlone, blobAlone) =
      (rows("etl_stock_pipeline", sfB), rows("mm_binary_ingest", sfB))
    val (stock, blob) =
      together(rows("etl_stock_pipeline", sfB), rows("mm_binary_ingest", sfB))
    assert(stock == stockAlone)
    assert(blob == blobAlone)
    assert(stock.nonEmpty && blob.nonEmpty)
  }
}
