package graft

import org.apache.spark.sql.functions._

import graft.etl.StockEtl

/** Golden end-to-end: the reference's own stock_data.csv through the
  * full pipeline, checked against facts pinned in FIXTURES.md §1. The
  * `etl_*` query checks run on the committed fixture (FIXTURES.md §1b)
  * that those queries read. */
class EtlSpec extends SparkTestBase {

  private lazy val table: org.apache.spark.sql.DataFrame = {
    val target = tempDir("graft_etl_spec").toString + "/stock"
    StockEtl.runPipeline(spark, "/root/reference/stock_data.csv", target)
  }

  test("208 rows, 10 indices, canonical 8-column typed schema") {
    assert(table.count() == 208)
    assert(table.select("stock_name").distinct().count() == 10)
    assert(table.columns.toSeq == StockEtl.canonicalColumns)
    val types = table.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    assert(types("Date") == "date")
    assert(Seq("Price", "Open", "High", "Low", "Vol", "Change")
      .forall(c => types(c) == "double"))
  }

  test("golden row: Dow Jones Mar 07 2025") {
    val r = table.filter(col("stock_name") === "Dow Jones"
      && col("Date") === lit("2025-03-07").cast("date")).head()
    assert(r.getAs[Double]("Price") == 42801.72)
    assert(r.getAs[Double]("Open") == 42503.07)
    assert(r.getAs[Double]("Vol") == 763440000.0)
    assert(r.getAs[Double]("Change") == 0.52)
  }

  test("null production: 80 empty-Vol rows -> null; no null prices") {
    assert(table.filter(col("Vol").isNull).count() == 80)
    assert(table.filter(col("Price").isNull).count() == 0)
    assert(table.filter(col("Date").isNull).count() == 0)
  }

  test("typed Dataset[StockBar] view agrees with the Column API") {
    val ds = StockEtl.typedBars(spark, "/root/reference/stock_data.csv")
    val typedCount = ds.filter(b => b.Vol.exists(_ > 5e8)).count()
    val colCount = table.filter(col("Vol") > 5e8).count()
    assert(typedCount == colCount && typedCount > 0)
    val dj = ds.filter(_.stock_name == "Dow Jones").collect()
    val djExpected = table.filter(col("stock_name") === "Dow Jones").count()
    assert(dj.length == djExpected && dj.nonEmpty && dj.forall(_.Price.isDefined))
  }

  test("overwrite sink is a full refresh (idempotent re-run)") {
    val target = tempDir("graft_etl_spec2").toString + "/stock"
    // count each run before the next overwrite invalidates its files
    val n1 = StockEtl.runPipeline(spark, "/root/reference/stock_data.csv", target).count()
    val n2 = StockEtl.runPipeline(spark, "/root/reference/stock_data.csv", target).count()
    assert(n1 == 208 && n2 == 208)
  }

  test("etl_stock_obv matches a driver-side walk over consolidated bars") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    val cleaned = SparkEntry.queries("etl_stock_clean")(spark, "unused")
      .select("stock_name", "date", "price", "vol").collect()
      .filter(!_.isNullAt(1))
    val bars = cleaned.groupBy(r => (r.getString(0), r.getDate(1)))
      .map { case ((s, d), rows) =>
        val prices = rows.filter(!_.isNullAt(2)).map(_.getDouble(2))
        val vols = rows.filter(!_.isNullAt(3)).map(r =>
          JBD.valueOf(r.getDouble(3)).setScale(2, RoundingMode.HALF_UP))
        (s, d, if (prices.isEmpty) None else Some(prices.max),
          if (vols.isEmpty) None else Some(vols.reduce(_.add(_))))
      }.toSeq
    val expected = bars.groupBy(_._1).flatMap { case (_, bs) =>
      val sorted = bs.sortBy(_._2.getTime)
      var obv = JBD.ZERO; var prev: Option[Double] = None
      sorted.map { case (s, d, p, v) =>
        val sign = (prev, p) match {
          case (Some(a), Some(b)) => java.lang.Double.compare(b, a)
          case _ => 0
        }
        if (sign != 0 && v.isDefined)
          obv = obv.add(v.get.multiply(JBD.valueOf(sign.toLong)))
        prev = p // the SQL lag() sees the immediately preceding bar,
                 // nulls included — no carry-forward
        (s, d.toString) -> obv.doubleValue
      }
    }
    val got = SparkEntry.queries("etl_stock_obv")(spark, "unused").collect()
    assert(got.length == bars.length)
    got.foreach { r =>
      val key = (r.getString(0), r.getDate(1).toString)
      assert(r.getAs[Double]("obv") == expected(key),
        s"$key: ${r.getAs[Double]("obv")} vs ${expected(key)}")
    }
  }

  test("etl_stock_macd matches a driver-side three-smoother fold") {
    val bars = SparkEntry.queries("etl_stock_clean")(spark, "unused")
      .select("stock_name", "date", "price").collect()
      .filter(r => !r.isNullAt(1) && !r.isNullAt(2))
      .groupBy(r => (r.getString(0), r.getDate(1)))
      .map { case ((s, d), rows) => (s, d, rows.map(_.getDouble(2)).max) }
      .toSeq
    val expected = bars.groupBy(_._1).map { case (s, bs) =>
      val ps = bs.sortBy(_._2.getTime).map(_._3)
      var e12 = ps.head; var e26 = ps.head; var sig = 0.0d; var i = 1L
      ps.tail.foreach { p =>
        val n12 = p * (2.0 / 13.0) + e12 * (11.0 / 13.0)
        val n26 = p * (2.0 / 27.0) + e26 * (25.0 / 27.0)
        val macd = n12 - n26
        sig = if (i < 2) macd else macd * (2.0 / 10.0) + sig * (8.0 / 10.0)
        e12 = n12; e26 = n26; i += 1
      }
      s -> ((ps.length.toLong, e12 - e26, sig))
    }
    val got = SparkEntry.queries("etl_stock_macd")(spark, "unused").collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val (n, macd, sig) = expected(r.getString(0))
      assert(r.getAs[Long]("n_bars") == n)
      assert(r.getAs[Double]("macd") == macd)
      assert(r.getAs[Double]("signal") == sig)
      assert(r.getAs[Double]("histogram") == macd - sig)
    }
  }

  test("etl_gapfill carries a twice-scraped day's larger price over the gap after it") {
    val twice = SparkEntry.queries("etl_stock_clean")(spark, "unused")
      .filter(col("date").isNotNull && col("price").isNotNull)
      .groupBy("stock_name", "date")
      .agg(count(lit(1)).as("n"), max("price").as("p"))
      .filter(col("n") > 1).collect()
    val fill = SparkEntry.queries("etl_gapfill")(spark, "unused")
    val carried = twice.flatMap { r =>
      val next = r.getDate(1).toLocalDate.plusDays(1).toString
      fill.filter(col("stock_name") === r.getString(0) && col("d") === next
          && col("is_gap"))
        .select("price_ff").collect().map(g => (r.getDouble(3), g.getDouble(0)))
    }
    assert(carried.nonEmpty, "no twice-scraped day is followed by a gap")
    carried.foreach { case (p, ff) => assert(ff == p, s"carried $ff, larger price $p") }
  }

  test("goldenCsv holds the committed fixture's bytes") {
    val in = getClass.getResourceAsStream("/graft/etl/stock_fixture.csv")
    val committed = try in.readAllBytes() finally in.close()
    val copy = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(StockEtl.goldenCsv))
    assert(java.util.Arrays.equals(copy, committed))
  }

  test("fixture copy: a file left under its name with other bytes is replaced") {
    import java.nio.file.Files
    val dir = tempDir("graft_fixture_copy")
    val bytes = "Date,Price\n\"Mar 07, 2025\",\"42,801.72\"\n".getBytes("UTF-8")
    def othersRead(p: java.nio.file.Path) = Files.getPosixFilePermissions(p)
      .contains(java.nio.file.attribute.PosixFilePermission.OTHERS_READ)
    val out = StockEtl.fixtureCopy(bytes, dir)
    assert(java.util.Arrays.equals(Files.readAllBytes(out), bytes))
    assert(othersRead(out), "a DuckDB compare run as another user reads the copy")
    // a copy with these bytes that others cannot read is replaced
    Files.setPosixFilePermissions(out,
      java.nio.file.attribute.PosixFilePermissions.fromString("rw-------"))
    assert(StockEtl.fixtureCopy(bytes, dir) == out)
    assert(othersRead(out))
    Files.write(out, "Date,Price\n\"Mar 07, 2025\",1.00\n".getBytes("UTF-8"))
    assert(StockEtl.fixtureCopy(bytes, dir) == out)
    assert(java.util.Arrays.equals(Files.readAllBytes(out), bytes))
    assert(othersRead(out))
    Files.delete(out)
    // a link is replaced even when what it points at holds the bytes
    Files.createSymbolicLink(out,
      Files.write(Files.createTempFile(dir, "other", ".csv"), bytes))
    StockEtl.fixtureCopy(bytes, dir)
    assert(!Files.isSymbolicLink(out))
    assert(java.util.Arrays.equals(Files.readAllBytes(out), bytes))
    assert(Files.list(dir).toArray.length == 2, "no .part file is left behind")
  }
}
