package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables
import graft.core.CkptTap._

/** Round-11 batch W: shape-constrained regression and spectral
  * seasonality over the daily-revenue series.
  *
  *  - `agg_isotonic` — isotonic (monotone non-decreasing) regression
  *    of daily revenue on the day index by the min-max formula
  *    ŷ_k = max_{i≤k} min_{j≥k} mean(y[i..j]) — the closed form of
  *    the pool-adjacent-violators fit. Every frame mean is an
  *    exact-integer quotient (decimal prefix sums), and min/max are
  *    EXACTLY associative — unlike Σ, the whole computation has zero
  *    accumulation-order surface, so the fit is bit-identical across
  *    engines and partitionings with no pinning needed. The O(days²)
  *    pair relation is calendar-bounded (the `agg_theil_sen`
  *    exception), built once behind a localCheckpoint.
  *  - `agg_periodogram` — normalized Schuster periodogram
  *    |X(p)|²/(n·Σy²) of the demeaned series at candidate periods
  *    2..30 days. The Σ y·cos / Σ y·sin terms are pinned to
  *    DECIMAL(38,6) (order-free); residual cross-engine surface is
  *    libm cos/sin ulps, ~1e-13 relative on the normalized power —
  *    invisible at round(6).
  */
object Analytics43 {

  /** Day-indexed revenue census with exact decimal prefix sums:
    * (i = 1-based day rank, x = day offset, y = floored daily revenue,
    * cum = Σ_{≤i} y). The cumulative window runs single-partition over
    * the DAILY relation (≤ calendar days), not the rows. */
  private def dailySql(orders: String, dayIdx: String): String =
    s"""SELECT x, y, i, cum FROM (
       |  SELECT x, y,
       |    row_number() OVER (ORDER BY x) AS i,
       |    sum(y) OVER (ORDER BY x) AS cum
       |  FROM (SELECT CAST($dayIdx AS BIGINT) AS x,
       |          CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))))
       |               AS DECIMAL(19,0)) AS y
       |        FROM $orders GROUP BY 1))""".stripMargin

  // ---------------------------------------------------------------------
  // agg_isotonic
  // ---------------------------------------------------------------------

  /** Shared min-max body over a `dd` relation of (x, y, i, cum). */
  private def isotonicBody: String =
    s"""p AS (SELECT /*+ BROADCAST(a) */ a.i AS i, b.i AS j,
       |        CAST(b.cum - a.cum + a.y AS DOUBLE) / (b.i - a.i + 1)
       |          AS avg_ij
       |      FROM dd a JOIN dd b ON b.i >= a.i),
       |sm AS (SELECT i, j AS k,
       |         min(avg_ij) OVER (PARTITION BY i ORDER BY j DESC) AS m
       |       FROM p),
       |fit AS (SELECT k, max(m) AS yhat FROM sm GROUP BY k)
       |SELECT d.x, CAST(d.y AS DOUBLE) AS y, fit.yhat
       |FROM fit JOIN dd d ON d.i = fit.k""".stripMargin

  /** Spark spelling (r16): same values as [[isotonicBody]], different
    * physical shape. The SQL form BROADCASTs `a` and streams `b`, so
    * the O(days²) pair relation comes out of the join partitioned by
    * NOTHING useful and the min-window forces a full Exchange + sort
    * of all ~n²/2 pair rows (44 MB at sf0.1, growing with the
    * calendar²). Streaming `a` instead — repartitioned by `i` — and
    * broadcasting `b` leaves the pair relation ALREADY hash-partitioned
    * by the window's partition key: the window plans as a local sort
    * with no Exchange, and the pair build runs one task per i-slice
    * instead of inside the checkpoint's single partition (guide §2.4:
    * two operations keyed the same way share one exchange). min/max/avg
    * operate on the identical doubles over identical sets — the fit is
    * bit-identical (the oracle keeps the broadcast-a spelling). */
  def aggIsotonic(s: SparkSession, dir: String): DataFrame = {
    val dd = Tables.sql(s, dir, dailySql("orders",
        "datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01')"))
      .tappedLocalCheckpoint()
    val a = dd.select(col("i").as("i"), col("cum").as("a_cum"),
        col("y").as("a_y"))
      .repartition(col("i"))
    val b = dd.select(col("i").as("j"), col("cum").as("b_cum"))
    val p = a.join(broadcast(b), col("j") >= col("i"))
      .select(col("i"), col("j"),
        ((col("b_cum") - col("a_cum") + col("a_y")).cast("double") /
          (col("j") - col("i") + 1)).as("avg_ij"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("i").orderBy(col("j").desc)
    val fit = p.select(col("i"), col("j").as("k"),
        min(col("avg_ij")).over(w).as("m"))
      .groupBy("k").agg(max(col("m")).as("yhat"))
    fit.join(dd, dd("i") === fit("k"))
      .select(col("x"), col("y").cast("double").as("y"), col("yhat"))
  }

  private val isotonicOracleSql: String =
    "WITH dd AS MATERIALIZED (\n" +
      dailySql("orders",
        "datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))") +
      "),\n" + isotonicBody

  // ---------------------------------------------------------------------
  // agg_periodogram
  // ---------------------------------------------------------------------

  /** Shared body over `dd` (as above) and `per(p)` (candidate
    * periods). yd is the demeaned value — every input to the
    * trigonometric products is bit-identical cross-engine; only the
    * Σs need the decimal pin. */
  private def periodogramBody: String =
    s"""dm AS (SELECT CAST(max(cum) AS DOUBLE)
       |         / CAST(max(i) AS DOUBLE) AS mu,
       |        CAST(max(i) AS BIGINT) AS n FROM dd),
       |yd AS (SELECT d.i, CAST(d.y AS DOUBLE) - dm.mu AS yd, dm.n
       |       FROM dd d CROSS JOIN dm),
       |tt AS (SELECT per.p, yd.i, yd.yd, yd.n,
       |        cos(2.0 * pi() * CAST(yd.i AS DOUBLE) / per.p) AS c,
       |        sin(2.0 * pi() * CAST(yd.i AS DOUBLE) / per.p) AS sn
       |       FROM per CROSS JOIN yd),
       |sp AS (SELECT p, max(n) AS n,
       |        CAST(sum(CAST(yd * c AS DECIMAL(38,6))) AS DOUBLE) AS re,
       |        CAST(sum(CAST(yd * sn AS DECIMAL(38,6))) AS DOUBLE) AS im
       |       FROM tt GROUP BY p),
       |vv AS (SELECT CAST(sum(CAST(yd * yd AS DECIMAL(38,6)))
       |              AS DOUBLE) AS ss FROM yd)
       |SELECT sp.p AS period,
       |  (sp.re * sp.re + sp.im * sp.im) / (sp.n * vv.ss) AS power_rel
       |FROM sp CROSS JOIN vv""".stripMargin

  def aggPeriodogram(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.sql(s, dir, dailySql("orders",
        "datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01')"))
      .tappedLocalCheckpoint()
    Tables.sql(s, dir, "WITH dd AS (SELECT * FROM graft_pg_daily),\n" +
      "per AS (SELECT explode(sequence(2L, 30L)) AS p),\n" +
      periodogramBody, "graft_pg_daily" -> daily)
  }

  private val periodogramOracleSql: String =
    "WITH dd AS MATERIALIZED (\n" +
      dailySql("orders",
        "datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))") +
      "),\n" +
      "per AS (SELECT CAST(unnest(generate_series(2, 30)) AS BIGINT)" +
      " AS p),\n" + periodogramBody

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("agg_isotonic", aggIsotonic, isotonicOracleSql),
    QueryDef("agg_periodogram", aggPeriodogram, periodogramOracleSql))
}
