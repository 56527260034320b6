package graft.etl

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables
import graft.functions.CleanFns

/** The reference's end-to-end ETL re-expressed Spark-first:
  * CSV scan (K2) → drift normalization (T5) → typed cleaning (T1–T4,
  * T6) → full-refresh overwrite sink (L1/L2) → read-back verification
  * (reference `dump_bigq.py:91-149`, `stock_data_scraper.py:310-333`).
  *
  * One lazy plan, no driver-side loops: at 100 TB the clean is a
  * narrow (shuffle-free) projection pipeline that parallelizes by
  * input split, and the sink is a partitioned parquet overwrite.
  */
object StockEtl {

  /** Canonical warehouse schema order (reference `dump_bigq.py:47-56`). */
  val canonicalColumns: Seq[String] =
    Seq("stock_name", "Date", "Price", "Open", "High", "Low", "Vol", "Change")

  /** Typed row for the cleaned table — the `Dataset[StockBar]` view of
    * the same data for compile-time field checks (SURVEY §1.1). */
  case class StockBar(stock_name: String, Date: java.sql.Date,
      Price: Option[Double], Open: Option[Double], High: Option[Double],
      Low: Option[Double], Vol: Option[Double], Change: Option[Double])

  /** Typed view of the cleaned golden table. */
  def typedBars(spark: SparkSession, csvPath: String): Dataset[StockBar] = {
    import spark.implicits._
    clean(readRawCsv(spark, csvPath)).as[StockBar]
  }

  /** K2: raw scan — header on, everything a string (raw layer; typing
    * happens in [[clean]], like the reference's pandas object dtype). */
  def readRawCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").csv(path)

  /** K2 with quarantine: PERMISSIVE mode captures structurally broken
    * rows in a `_corrupt` column instead of silently dropping them —
    * the reader-level analogue of the reference's malformed-row filter
    * (S4), but auditable: good rows flow on, bad rows are counted and
    * can be sunk to a quarantine path. */
  def readCsvWithQuarantine(spark: SparkSession, path: String,
      schemaCols: Seq[String]): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val schema = StructType(
      schemaCols.map(StructField(_, StringType)) :+
        StructField("_corrupt", StringType))
    val raw = spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .schema(schema)
      .csv(path)
      .cache() // required: corrupt-record column cannot be filtered on
               // a pushed-down subset of columns (Spark CSV contract)
    (raw.filter(col("_corrupt").isNull).drop("_corrupt"),
      raw.filter(col("_corrupt").isNotNull).select("_corrupt"))
  }

  /** T5 + T1–T4 + T6: canonicalize drifted column names, then type
    * every column with the pinned null-production rules. */
  def clean(raw: DataFrame): DataFrame = {
    val n = CleanFns.normalizeColumns(raw, CleanFns.stockDriftMap)
    n.select(
      col("stock_name"),
      CleanFns.parseDate(col("Date")).as("Date"),
      CleanFns.parseCommaNumber(col("Price")).as("Price"),
      CleanFns.parseCommaNumber(col("Open")).as("Open"),
      CleanFns.parseCommaNumber(col("High")).as("High"),
      CleanFns.parseCommaNumber(col("Low")).as("Low"),
      CleanFns.parseMagnitude(col("Vol")).as("Vol"),
      CleanFns.parsePercent(col("Change")).as("Change"))
  }

  /** L1/L2: full-refresh overwrite (the reference's WRITE_TRUNCATE),
    * returning the loaded row count (its `num_rows` verification,
    * dump_bigq.py:148-149). The count comes from an [[Observation]]
    * attached to the write itself — at 100 TB a read-back count() is a
    * full second scan; observed metrics are free. */
  def overwriteTable(df: DataFrame, path: String): Long =
    countedWrite(df)(_.write.mode(SaveMode.Overwrite).parquet(path))

  /** L2 at scale: partitioned layout + dynamic partition overwrite —
    * a re-run replaces only the partitions present in the incoming
    * frame (the 100 TB shape of WRITE_TRUNCATE: daily refresh rewrites
    * the day, not the table). Returns the written row count, observed
    * on the write like [[overwriteTable]]'s. */
  def overwritePartitioned(df: DataFrame, path: String, partitionCol: String): Long =
    countedWrite(df)(_.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(path))

  /** Runs `write` over `df` and returns the rows it wrote, counted by an
    * [[org.apache.spark.sql.Observation]] on the same job. */
  private def countedWrite(df: DataFrame)(write: DataFrame => Unit): Long = {
    val obs = org.apache.spark.sql.Observation()
    write(df.observe(obs, count(lit(1)).as("n")))
    obs.get("n").asInstanceOf[Long]
  }

  /** O1: the whole pipeline; returns the loaded table for inspection. */
  def runPipeline(spark: SparkSession, csvPath: String, tablePath: String): DataFrame = {
    val cleaned = clean(readRawCsv(spark, csvPath))
    overwriteTable(cleaned, tablePath)
    spark.read.parquet(tablePath)
  }

  /** Absolute path of the committed stock fixture
    * (`src/main/resources/graft/etl/stock_fixture.csv`, written by
    * `tools/gen_stock_fixture.py`): seeded synthetic bars in the
    * scraped raw shape. Every graded `etl_*` query and its DuckDB twin
    * read these bytes. Read from the classpath, so it does not depend
    * on the working directory, and copied out by [[fixtureCopy]], since
    * both engines read files and the classes may sit in a jar (sbt's
    * `runMain` runs from one). Lazy: users of the cleaning functions
    * alone never touch the fixture. */
  lazy val goldenCsv: String = {
    val in = getClass.getResourceAsStream("/graft/etl/stock_fixture.csv")
    require(in != null, "graft/etl/stock_fixture.csv is not on the classpath")
    val bytes = try in.readAllBytes() finally in.close()
    fixtureCopy(bytes, java.nio.file.Paths.get(sys.props("java.io.tmpdir")))
      .toString
  }

  /** A file in `dir` holding `bytes`, named by their hash and readable
    * by every user. A file an earlier run left under that name is
    * reused only if it holds exactly these bytes and others may read
    * it; otherwise it is replaced by an atomic move. The copy outlives
    * the JVM on purpose: the DuckDB compare reads `oracle_sql.json`'s
    * path after Verify has exited, possibly as another user. */
  private[graft] def fixtureCopy(bytes: Array[Byte],
      dir: java.nio.file.Path): java.nio.file.Path = {
    import java.nio.file.{Files, LinkOption, StandardCopyOption}
    import java.nio.file.attribute.{PosixFilePermission, PosixFilePermissions}
    val hash = java.security.MessageDigest.getInstance("SHA-256")
      .digest(bytes).take(8).map("%02x".format(_)).mkString
    val out = dir.resolve(s"graft-stock-fixture-$hash.csv")
    val intact = Files.isRegularFile(out, LinkOption.NOFOLLOW_LINKS) &&
      Files.size(out) == bytes.length &&
      java.util.Arrays.equals(Files.readAllBytes(out), bytes) &&
      Files.getPosixFilePermissions(out, LinkOption.NOFOLLOW_LINKS)
        .contains(PosixFilePermission.OTHERS_READ)
    if (!intact) {
      val part = Files.createTempFile(dir, "graft-stock-fixture", ".part")
      try {
        Files.write(part, bytes)
        Files.setPosixFilePermissions(part,
          PosixFilePermissions.fromString("rw-r--r--"))
        Files.move(part, out, StandardCopyOption.ATOMIC_MOVE)
      } finally Files.deleteIfExists(part)
    }
    out
  }

  private def lowercased(df: DataFrame): DataFrame =
    df.select(
      col("stock_name"), col("Date").as("date"), col("Price").as("price"),
      col("Open").as("open"), col("High").as("high"), col("Low").as("low"),
      col("Vol").as("vol"), col("Change").as("change"))

  /** Clean of the stock fixture (no sink), lowercase column aliases for the
    * case-sensitive oracle compare. */
  def etlStockClean(s: SparkSession, dir: String): DataFrame =
    lowercased(clean(readRawCsv(s, goldenCsv)))

  /** Full E2E including the overwrite sink and read-back. */
  def etlStockPipeline(s: SparkSession, dir: String): DataFrame = {
    val target = graft.core.ScratchDirs.path(s, "graft_stock_table", dir)
    lowercased(runPipeline(s, goldenCsv, target))
  }

  /** Calendar gap-fill + forward fill: a per-stock daily date spine
    * (min..max trading date) left-joined to the bars, price carried
    * forward over non-trading days. The spine generation is per-group
    * `sequence()` — each group's spine explodes from ONE aggregated
    * row, so at scale the work distributes by stock and no driver-side
    * calendar is involved. A (stock, date) scraped twice keeps both
    * rows, and the fill carries the larger price, as [[barsCte]]'s
    * consolidation does: ordering by date alone would leave the tie to
    * the sort, and the two engines break it differently. */
  def etlGapfill(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bars = clean(readRawCsv(s, goldenCsv))
      .select(col("stock_name"), col("Date").as("date"),
        col("Price").as("price"))
    val spine = bars.groupBy("stock_name")
      .agg(min("date").as("d0"), max("date").as("d1"))
      .select(col("stock_name"),
        explode(sequence(col("d0"), col("d1"), expr("INTERVAL 1 DAY")))
          .as("date"))
    val w = Window.partitionBy("stock_name")
      .orderBy(col("date"), col("price").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, 0)
    spine.join(bars, Seq("stock_name", "date"), "left")
      .select(col("stock_name"),
        date_format(col("date"), "yyyy-MM-dd").as("d"),
        last(col("price"), ignoreNulls = true).over(w).as("price_ff"),
        col("price").isNull.as("is_gap"))
  }

  /** Per-stock data-quality profile of the cleaned table: row counts,
    * null counts per typed column, date span, price range. The check a
    * warehouse load runs right after the reference's post-load
    * row-count verification (dump_bigq.py:148-149), generalized to
    * column-level quality. */
  def etlProfile(s: SparkSession, dir: String): DataFrame =
    clean(readRawCsv(s, goldenCsv))
      .groupBy("stock_name")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("Price").isNull.cast("long")).as("null_price"),
        sum(col("Vol").isNull.cast("long")).as("null_vol"),
        sum(col("Change").isNull.cast("long")).as("null_change"),
        date_format(min(col("Date")), "yyyy-MM-dd").as("d_min"),
        date_format(max(col("Date")), "yyyy-MM-dd").as("d_max"),
        min(col("Price")).as("price_min"),
        max(col("Price")).as("price_max"))

  /** On-balance volume over the reference's own price table: OBV_t =
    * OBV_{t-1} + sign(price_t − price_{t-1})·vol_t per stock — the
    * volume-flow indicator a stock warehouse computes right after the
    * load the reference performs (dump_bigq.py's table is exactly this
    * shape). Signs are integer; volumes ride DECIMAL(18,2) (the parsed
    * magnitudes are 2-decimal rationals × 10^{3,6,9}, so the running
    * sums are exact and the final double cast agrees bit-for-bit on
    * both engines); null price/vol rows contribute zero rather than
    * poisoning the running sum. */
  def etlStockObv(s: SparkSession, dir: String): DataFrame = {
    Tables.sql(s, dir, "WITH " + obvCensus("cleaned"), cleaned(s))
  }

  // One bar per (stock, date) FIRST: the raw CSV carries duplicate-date
  // rows, and a ROWS running sum over an order with ties is
  // tie-order-dependent — the census consolidates (max price, summed
  // volume) so the OBV walk has a total order.
  private def barsCte(cleaned: String): String =
    s"""bars AS (SELECT stock_name, date, max(price) AS price,
       |           sum(CAST(vol AS DECIMAL(18, 2))) AS vol
       |         FROM $cleaned WHERE date IS NOT NULL
       |         GROUP BY stock_name, date)""".stripMargin

  private def obvCensus(cleaned: String): String =
    s"""${barsCte(cleaned)},
       |sgn AS (SELECT stock_name, date, price,
       |  COALESCE((CASE WHEN price > lag(price) OVER
       |                   (PARTITION BY stock_name ORDER BY date) THEN 1
       |                 WHEN price < lag(price) OVER
       |                   (PARTITION BY stock_name ORDER BY date) THEN -1
       |                 ELSE 0 END) * vol,
       |           CAST(0 AS DECIMAL(18, 2))) AS dv
       |  FROM bars)
       |SELECT stock_name, date, price,
       |  CAST(sum(dv) OVER (PARTITION BY stock_name ORDER BY date
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS obv
       |FROM sgn""".stripMargin

  /** MACD(12,26,9) per stock over the consolidated bars: fast/slow
    * EMAs of price, their difference, and the 9-period signal EMA of
    * that difference — one sequential fold per stock (the win_holt
    * contract: both engines replay the identical IEEE sequence; the
    * DuckDB twin is a recursive CTE because list_reduce mutates
    * struct accumulators field-by-field). EMAs seed at the first
    * price; the signal seeds at the first post-seed MACD value.
    * Null-price bars are excluded — an EMA of nothing is undefined. */
  def etlStockMacd(s: SparkSession, dir: String): DataFrame = {
    Tables.sql(s, dir,
      s"""WITH ${barsCte("cleaned")},
         |series AS (SELECT stock_name,
         |  transform(array_sort(collect_list(struct(date, price))),
         |            x -> x.price) AS ps
         |  FROM bars WHERE price IS NOT NULL GROUP BY stock_name),
         |f AS (SELECT stock_name, size(ps) AS n_bars,
         |  aggregate(slice(ps, 2, size(ps) - 1),
         |    named_struct('e12', ps[0], 'e26', ps[0], 'sig', 0.0D, 'i', 1L),
         |    (acc, p) -> named_struct(
         |      'e12', p * (2.0D / 13.0D) + acc.e12 * (11.0D / 13.0D),
         |      'e26', p * (2.0D / 27.0D) + acc.e26 * (25.0D / 27.0D),
         |      'sig', CASE WHEN acc.i < 2
         |             THEN (p * (2.0D / 13.0D) + acc.e12 * (11.0D / 13.0D))
         |                  - (p * (2.0D / 27.0D) + acc.e26 * (25.0D / 27.0D))
         |             ELSE ((p * (2.0D / 13.0D) + acc.e12 * (11.0D / 13.0D))
         |                   - (p * (2.0D / 27.0D) + acc.e26 * (25.0D / 27.0D)))
         |                  * (2.0D / 10.0D) + acc.sig * (8.0D / 10.0D) END,
         |      'i', acc.i + 1L)) AS r
         |  FROM series)
         |SELECT stock_name, CAST(n_bars AS BIGINT) AS n_bars,
         |  r.e12 - r.e26 AS macd, r.sig AS signal,
         |  (r.e12 - r.e26) - r.sig AS histogram
         |FROM f""".stripMargin, cleaned(s))
  }

  // OHLC bar consolidation (duplicate-date rule as barsCte, but keeps
  // the high/low range: max(high), min(low) span every duplicate row).
  private def ohlcCte(cleaned: String): String =
    s"""bars AS (SELECT stock_name, date, max(price) AS price,
       |           max(high) AS high, min(low) AS low
       |         FROM $cleaned
       |         WHERE date IS NOT NULL AND price IS NOT NULL
       |           AND high IS NOT NULL AND low IS NOT NULL
       |         GROUP BY stock_name, date)""".stripMargin

  /** Stochastic oscillator %K(14)/%D(3) per stock: %K positions the
    * close inside the trailing 14-bar high-low range (pure
    * comparisons — exact on both engines); %D is the 3-bar SMA of %K.
    * Zero-width ranges pin %K to 50. Emitted from the 16th bar (first
    * full %K window plus two %K values for %D). */
  def etlStockStochastic(s: SparkSession, dir: String): DataFrame = {
    Tables.sql(s, dir, stochasticCensus("cleaned"), cleaned(s))
  }

  private def stochasticCensus(cleaned: String): String =
    s"""WITH ${ohlcCte(cleaned)},
       |r AS (SELECT stock_name, date, price,
       |        min(low) OVER (PARTITION BY stock_name ORDER BY date
       |          ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS low14,
       |        max(high) OVER (PARTITION BY stock_name ORDER BY date
       |          ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS high14,
       |        row_number() OVER (PARTITION BY stock_name ORDER BY date) AS rn
       |      FROM bars),
       |k AS (SELECT stock_name, date, rn,
       |        CASE WHEN high14 = low14 THEN 50.0
       |             ELSE (price - low14) / (high14 - low14) * 100.0 END AS pct_k
       |      FROM r),
       |d AS (SELECT stock_name, date, rn, pct_k,
       |        avg(pct_k) OVER (PARTITION BY stock_name ORDER BY rn
       |          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS pct_d
       |      FROM k)
       |SELECT stock_name, date, pct_k, pct_d
       |FROM d WHERE rn >= 16""".stripMargin

  /** Average true range ATR(14) per stock: TR = max(high − low,
    * |high − prevClose|, |low − prevClose|) (first bar falls back to
    * high − low), ATR the 14-bar SMA of TR. Subtractions of input
    * bits and comparisons only; the SMA is the single accumulation,
    * whose frame-vs-segment-tree ulp sits far under round-6 on
    * O(100) values. */
  def etlStockAtr(s: SparkSession, dir: String): DataFrame = {
    Tables.sql(s, dir, atrCensus("cleaned"), cleaned(s))
  }

  private def atrCensus(cleaned: String): String =
    s"""WITH ${ohlcCte(cleaned)},
       |p AS (SELECT stock_name, date, high, low,
       |        lag(price) OVER (PARTITION BY stock_name ORDER BY date) AS pc,
       |        row_number() OVER (PARTITION BY stock_name ORDER BY date) AS rn
       |      FROM bars),
       |tr AS (SELECT stock_name, date, rn,
       |         CASE WHEN pc IS NULL THEN high - low
       |              ELSE greatest(high - low, abs(high - pc), abs(low - pc))
       |         END AS tr
       |       FROM p),
       |a AS (SELECT stock_name, date, rn, tr,
       |        avg(tr) OVER (PARTITION BY stock_name ORDER BY rn
       |          ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS atr14
       |      FROM tr)
       |SELECT stock_name, date, tr, atr14
       |FROM a WHERE rn >= 14""".stripMargin

  // The oracle re-runs the cleaning rules in DuckDB over the same CSV.
  private def nullish(c: String) = s"lower(trim($c)) IN ('', 'nan')"
  private val etlSql =
    s"""WITH raw AS (SELECT * FROM read_csv('$goldenCsv', header=true, all_varchar=true))
       |SELECT stock_name,
       |  CAST(try_strptime(trim("Date"), '%b %d, %Y') AS DATE) AS date,
       |  CASE WHEN ${nullish("\"Price\"")} THEN NULL
       |       ELSE TRY_CAST(replace(trim("Price"), ',', '') AS DOUBLE) END AS price,
       |  CASE WHEN ${nullish("\"Open\"")} THEN NULL
       |       ELSE TRY_CAST(replace(trim("Open"), ',', '') AS DOUBLE) END AS open,
       |  CASE WHEN ${nullish("\"High\"")} THEN NULL
       |       ELSE TRY_CAST(replace(trim("High"), ',', '') AS DOUBLE) END AS high,
       |  CASE WHEN ${nullish("\"Low\"")} THEN NULL
       |       ELSE TRY_CAST(replace(trim("Low"), ',', '') AS DOUBLE) END AS low,
       |  CASE WHEN ${nullish("\"Vol.\"")} THEN NULL
       |       WHEN trim("Vol.") LIKE '%K' THEN TRY_CAST(substr(trim("Vol."), 1, length(trim("Vol.")) - 1) AS DOUBLE) * 1e3
       |       WHEN trim("Vol.") LIKE '%M' THEN TRY_CAST(substr(trim("Vol."), 1, length(trim("Vol.")) - 1) AS DOUBLE) * 1e6
       |       WHEN trim("Vol.") LIKE '%B' THEN TRY_CAST(substr(trim("Vol."), 1, length(trim("Vol.")) - 1) AS DOUBLE) * 1e9
       |       ELSE TRY_CAST(replace(trim("Vol."), ',', '') AS DOUBLE) END AS vol,
       |  CASE WHEN ${nullish("\"Change %\"")} THEN NULL
       |       ELSE TRY_CAST(rtrim(trim("Change %"), '%') AS DOUBLE) END AS change
       |FROM raw""".stripMargin

  val queries: Seq[QueryDef] = Seq(
    QueryDef("etl_stock_clean", etlStockClean, etlSql),
    QueryDef("etl_stock_pipeline", etlStockPipeline, etlSql),
    QueryDef("etl_gapfill", etlGapfill,
      s"""WITH cleaned AS ($etlSql),
         |bars AS (SELECT stock_name, date, price FROM cleaned),
         |span AS (SELECT stock_name, MIN(date) AS d0, MAX(date) AS d1
         |         FROM bars GROUP BY 1),
         |spine AS (SELECT stock_name,
         |            CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
         |                 CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS date
         |          FROM span),
         |j AS (SELECT s.stock_name, s.date, b.price
         |      FROM spine s LEFT JOIN bars b
         |        ON s.stock_name = b.stock_name AND s.date = b.date)
         |SELECT stock_name, strftime(date, '%Y-%m-%d') AS d,
         |  last_value(price IGNORE NULLS) OVER (PARTITION BY stock_name
         |    ORDER BY date, price NULLS FIRST ROWS UNBOUNDED PRECEDING) AS price_ff,
         |  price IS NULL AS is_gap
         |FROM j""".stripMargin),
    QueryDef("etl_profile", etlProfile,
      s"""WITH cleaned AS ($etlSql)
         |SELECT stock_name, COUNT(*) AS n_rows,
         |  CAST(SUM(CASE WHEN price IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_price,
         |  CAST(SUM(CASE WHEN vol IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_vol,
         |  CAST(SUM(CASE WHEN change IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_change,
         |  strftime(MIN(date), '%Y-%m-%d') AS d_min,
         |  strftime(MAX(date), '%Y-%m-%d') AS d_max,
         |  MIN(price) AS price_min,
         |  MAX(price) AS price_max
         |FROM cleaned GROUP BY stock_name""".stripMargin),
    QueryDef("etl_stock_obv", etlStockObv,
      s"""WITH cleaned AS ($etlSql),
          |""".stripMargin + obvCensus("cleaned")),
    QueryDef("etl_stock_macd", etlStockMacd,
      s"""WITH RECURSIVE cleaned AS ($etlSql),
         |${barsCte("cleaned")},
         |v AS (SELECT stock_name, price,
         |        row_number() OVER (PARTITION BY stock_name ORDER BY date) AS i
         |      FROM bars WHERE price IS NOT NULL),
         |n AS (SELECT stock_name, max(i) AS n FROM v GROUP BY stock_name),
         |f(stock_name, i, e12, e26, sig) AS (
         |  SELECT stock_name, 1, price, price, CAST(0.0 AS DOUBLE)
         |  FROM v WHERE i = 1
         |  UNION ALL
         |  SELECT f.stock_name, f.i + 1,
         |    v.price * (2.0 / 13.0) + f.e12 * (11.0 / 13.0),
         |    v.price * (2.0 / 27.0) + f.e26 * (25.0 / 27.0),
         |    CASE WHEN f.i < 2
         |      THEN (v.price * (2.0 / 13.0) + f.e12 * (11.0 / 13.0))
         |           - (v.price * (2.0 / 27.0) + f.e26 * (25.0 / 27.0))
         |      ELSE ((v.price * (2.0 / 13.0) + f.e12 * (11.0 / 13.0))
         |            - (v.price * (2.0 / 27.0) + f.e26 * (25.0 / 27.0)))
         |           * (2.0 / 10.0) + f.sig * (8.0 / 10.0) END
         |  FROM f JOIN v ON v.stock_name = f.stock_name AND v.i = f.i + 1)
         |SELECT f.stock_name, CAST(n.n AS BIGINT) AS n_bars,
         |  f.e12 - f.e26 AS macd, f.sig AS signal,
         |  (f.e12 - f.e26) - f.sig AS histogram
         |FROM f JOIN n ON n.stock_name = f.stock_name WHERE f.i = n.n""".stripMargin),
    QueryDef("etl_stock_stochastic", etlStockStochastic,
      s"""WITH cleaned AS ($etlSql),
          |""".stripMargin +
        stochasticCensus("cleaned").replaceFirst("WITH ", "")),
    QueryDef("etl_stock_atr", etlStockAtr,
      s"""WITH cleaned AS ($etlSql),
          |""".stripMargin +
        atrCensus("cleaned").replaceFirst("WITH ", "")))

  /** The lowercased cleaned stock-fixture table, named `cleaned` for
    * `Tables.sql` — the relation the stock queries here and derived
    * ones (e.g. Black–Scholes in [[graft.queries.Analytics50]]) read. */
  def cleaned(s: SparkSession): (String, DataFrame) =
    "cleaned" -> lowercased(clean(readRawCsv(s, goldenCsv)))

  /** The consolidated one-bar-per-(stock, date) CTE text, shared with
    * external queries. */
  def barsCteFor(cleaned: String): String = barsCte(cleaned)

  /** The DuckDB spelling of the T1–T6 cleaning over the stock fixture,
    * for external oracles. */
  def duckdbEtlSql: String = etlSql
}
