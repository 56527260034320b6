package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Semantic pins for the round-10 widening batch
  * ([[graft.queries.Analytics10]]): Gopher-rule flag algebra, a
  * driver-side synchronous-LPA replica, and the dual-axis file-skipping
  * claim of the Z-order layout. */
class Analytics10Spec extends SparkTestBase {

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("text_gopher_rules: flag algebra and a per-doc replica") {
    val out = q("text_gopher_rules").collect()
    assert(out.nonEmpty)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.length == docs.size)
    val stop = Seq("the", "a", "of", "and", "data", "table", "row", "value")
    out.foreach { r =>
      val ws = docs(r.getAs[Long]("doc_id")).split(" ", -1)
      val n = ws.length
      assert(r.getAs[Long]("n_words") == n.toLong)
      val mwl = ws.map(_.length).sum.toDouble / n
      assert(r.getAs[Double]("mwl") == mwl)
      val alpha = ws.count(_.exists(c => c >= 'a' && c <= 'z')).toDouble / n
      assert(r.getAs[Double]("alpha_frac") == alpha)
      val nStop = stop.count(ws.contains)
      assert(r.getAs[Long]("n_stop") == nStop.toLong)
      val pw = if (n >= 20 && n <= 80) 1 else 0
      val pm = if (mwl >= 3.0 && mwl <= 10.0) 1 else 0
      val pa = if (alpha > 0.8) 1 else 0
      val ps = if (nStop >= 2) 1 else 0
      assert(r.getAs[Int]("p_wordcount") == pw)
      assert(r.getAs[Int]("p_meanlen") == pm)
      assert(r.getAs[Int]("p_alpha") == pa)
      assert(r.getAs[Int]("p_stop") == ps)
      assert(r.getAs[Int]("pass_all") == pw * pm * pa * ps)
    }
  }

  test("graph_label_prop matches a driver-side synchronous-LPA replica") {
    val out = q("graph_label_prop").collect()
      .map(r => r.getAs[Long]("nk") -> r.getAs[Long]("label")).toMap
    assert(out.nonEmpty)
    // Re-derive the same thresholded symmetric edge list, then run the
    // identical 4 synchronous rounds sequentially on the driver.
    Seq("lineitem", "orders", "customer", "supplier").foreach(n =>
      spark.read.parquet(s"$sf/$n.parquet")
        .createOrReplaceTempView("lps_" + n))
    val und = spark.sql(
      """SELECT least(na, nb) AS a, greatest(na, nb) AS b, sum(cnt) AS cnt
        |FROM (SELECT c.c_nationkey AS na, s.s_nationkey AS nb,
        |        count(*) AS cnt
        |      FROM lps_lineitem l
        |        JOIN lps_orders o ON l.l_orderkey = o.o_orderkey
        |        JOIN lps_customer c ON o.o_custkey = c.c_custkey
        |        JOIN lps_supplier s ON l.l_suppkey = s.s_suppkey
        |      WHERE c.c_nationkey <> s.s_nationkey GROUP BY 1, 2)
        |GROUP BY 1, 2""".stripMargin).collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
        r.getAs[Number](2).longValue))
    val tot = und.map(_._3).sum
    val np = und.length
    val edges = und.filter { case (_, _, c) => c * np * 100 > 115 * tot }
      .flatMap { case (a, b, _) => Seq(a -> b, b -> a) }
    val nbrs = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var lab: Map[Long, Long] = nbrs.keys.map(k => k -> k).toMap
    for (_ <- 1 to 4) {
      lab = nbrs.map { case (u, vs) =>
        val cnt = vs.groupBy(lab).view.mapValues(_.length).toMap
        val mx = cnt.values.max
        u -> cnt.filter(_._2 == mx).keys.min
      }
    }
    assert(out == lab, s"engine $out vs replica $lab")
    // Labels name actual nodes (a community is keyed by a member).
    out.values.foreach(l => assert(out.contains(l)))
  }

  test("llm_ccnet_buckets: per-lang terciles are balanced and ordered") {
    val out = q("llm_ccnet_buckets").collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("bucket"),
        r.getAs[Double]("score"), r.getAs[Long]("doc_id")))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (lang, rows) =>
      val sizes = rows.groupBy(_._2).view.mapValues(_.length).toMap
      val counts = Seq("head", "middle", "tail").map(sizes.getOrElse(_, 0))
      assert(counts.max - counts.min <= 1,
        s"$lang terciles unbalanced: $sizes")
      // ordering by (score, doc_id): every head key <= every middle
      // key <= every tail key
      def keys(b: String) = rows.filter(_._2 == b).map(r => (r._3, r._4))
      val hd = keys("head"); val md = keys("middle"); val tl = keys("tail")
      implicit val ord: Ordering[(Double, Long)] =
        Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
      if (hd.nonEmpty && md.nonEmpty) assert(ord.lteq(hd.max, md.min))
      if (md.nonEmpty && tl.nonEmpty) assert(ord.lteq(md.max, tl.min))
    }
  }

  test("scan_zorder_scaled: content matches the unclustered filter") {
    val got = q("scan_zorder_scaled").collect()
      .map(r => (r.getAs[Long]("o_orderkey"), r.getAs[Long]("o_custkey"),
        r.getAs[String]("o_date"), r.getAs[Double]("o_totalprice")))
      .toSet
    val want = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_custkey") >= 100 && col("o_custkey") < 200 &&
        col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-07-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
        col("o_totalprice"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("scan_zorder_scaled: the layout prunes files on BOTH axes") {
    q("scan_zorder_scaled").collect() // materialize the layout
    val path = core.ScratchDirs.path(spark, "graft_zorder_orders", sf)
    // Per-file min/max stats, as parquet footers would expose them.
    val stats = spark.read.parquet(path)
      .withColumn("f", input_file_name())
      .groupBy("f")
      .agg(min("o_custkey").as("cmin"), max("o_custkey").as("cmax"),
        min("o_orderdate").as("dmin"), max("o_orderdate").as("dmax"))
      .collect()
    assert(stats.length >= 4, s"expected a multi-file layout: ${stats.length}")
    val custProbe = stats.count(r => r.getAs[Long]("cmax") >= 100 &&
      r.getAs[Long]("cmin") < 200)
    // The fixture's o_orderdate is parquet NTZ → LocalDateTime rows.
    val lo = java.time.LocalDateTime.parse("1997-01-01T00:00:00")
    val hi = java.time.LocalDateTime.parse("1997-07-01T00:00:00")
    def ldt(r: Row, c: String): java.time.LocalDateTime =
      r.getAs[Any](c) match {
        case t: java.sql.Timestamp => t.toLocalDateTime
        case d: java.time.LocalDateTime => d
      }
    val dateProbe = stats.count(r =>
      !ldt(r, "dmax").isBefore(lo) && ldt(r, "dmin").isBefore(hi))
    // A 1-D sort prunes one axis perfectly and the other not at all;
    // the Z-curve layout must skip files on EACH single-axis probe.
    assert(custProbe < stats.length,
      s"custkey probe touched all ${stats.length} files")
    assert(dateProbe < stats.length,
      s"date probe touched all ${stats.length} files")
  }
}
