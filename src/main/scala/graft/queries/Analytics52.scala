package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables

/** Round-11 batch AG: distribution-free prediction intervals and the
  * classic stat-arb signal.
  *
  *  - `agg_conformal_interval` — SPLIT CONFORMAL prediction (the
  *    distribution-free interval machinery modern ML serving uses):
  *    deterministic md5-parity train/calibration split of the daily
  *    series, OLS trend fit on train (exact decimal moments),
  *    calibration score = |residual|, q̂ = the ⌈(n+1)·0.9⌉-th order
  *    statistic (exact rank over the calibration census), achieved
  *    coverage emitted as the self-check. Residuals are identical
  *    IEEE expressions of exact inputs, so the rank selection cannot
  *    flip cross-engine.
  *  - `etl_stock_pairs_spread` — pairs-trading spread over the
  *    reference's own stock table: hedge ratio by OLS of the
  *    alphabetically-first stock's price on the last's (cent-exact
  *    moments), spread z-scores, ±2σ signal census.
  */
object Analytics52 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---------------------------------------------------------------------
  // agg_conformal_interval
  // ---------------------------------------------------------------------

  private def conformalSql(orders: String, dayIdx: String): String =
    s"""daily AS (
       |  SELECT CAST($dayIdx AS BIGINT) AS x,
       |         CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))))
       |              AS DECIMAL(19,0)) AS y,
       |         CASE WHEN substr(md5(CAST(CAST($dayIdx AS BIGINT)
       |                 AS STRING)), 1, 1)
       |                IN ('0','2','4','6','8','a','c','e')
       |              THEN 1 ELSE 0 END AS tr
       |  FROM $orders GROUP BY 1),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |        CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
       |        CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
       |        CAST(sum(CAST(x AS DECIMAL(19,0)) * y) AS DOUBLE) AS sxy,
       |        CAST(sum(CAST(x AS DECIMAL(19,0)) * x) AS DOUBLE) AS sxx
       |      FROM daily WHERE tr = 1),
       |fit AS (SELECT n AS n_train,
       |        (sxy - sx * sy / n) / (sxx - sx * sx / n) AS b,
       |        sy / n - (sxy - sx * sy / n) / (sxx - sx * sx / n)
       |          * (sx / n) AS a
       |      FROM m),
       |cal AS (SELECT d.x,
       |        abs(CAST(d.y AS DOUBLE) - fit.a - fit.b * d.x) AS score,
       |        fit.n_train, fit.b
       |      FROM daily d CROSS JOIN fit WHERE d.tr = 0),
       |rk AS (SELECT x, score, n_train, b,
       |        CAST(row_number() OVER (ORDER BY score, x) AS BIGINT)
       |          AS i,
       |        CAST(count(*) OVER () AS BIGINT) AS n_cal
       |      FROM cal),
       |q AS (SELECT max(n_train) AS n_train, max(n_cal) AS n_cal,
       |        max(b) AS slope,
       |        max(CASE WHEN i = CAST(ceil((n_cal + 1)
       |                 * 9.0e-1) AS BIGINT)
       |                 THEN score END) AS qhat
       |      FROM rk)
       |SELECT q.n_train, q.n_cal, q.slope, q.qhat,
       |  CAST((SELECT count(*) FROM rk WHERE rk.score <= q.qhat)
       |       AS DOUBLE) / q.n_cal AS coverage
       |FROM q""".stripMargin

  def aggConformalInterval(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("graft_cf_orders")
    s.sql("WITH " + conformalSql("graft_cf_orders",
      "datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01')"))
  }

  // ---------------------------------------------------------------------
  // etl_stock_pairs_spread
  // ---------------------------------------------------------------------

  /** Expects `bars`; pairs the MIN and MAX stock_name (deterministic
    * pick), inner-joined by date. Prices ride integer cents through
    * every moment; spread stats come from decimal-pinned sums. */
  private def pairsBody: String =
    s"""names AS (SELECT min(stock_name) AS sa, max(stock_name) AS sb
       |         FROM bars WHERE price IS NOT NULL),
       |j AS (SELECT a.date,
       |        CAST(CAST(a.price AS DECIMAL(18,2)) * 100 AS BIGINT)
       |          AS pa,
       |        CAST(CAST(b.price AS DECIMAL(18,2)) * 100 AS BIGINT)
       |          AS pb
       |      FROM bars a JOIN names nn ON a.stock_name = nn.sa
       |        JOIN bars b ON b.stock_name = nn.sb AND b.date = a.date
       |      WHERE a.price IS NOT NULL AND b.price IS NOT NULL),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |        CAST(sum(CAST(pa AS DECIMAL(38,0))) AS DOUBLE) AS sa_,
       |        CAST(sum(CAST(pb AS DECIMAL(38,0))) AS DOUBLE) AS sb_,
       |        CAST(sum(CAST(pa AS DECIMAL(19,0)) * pb) AS DOUBLE)
       |          AS sab,
       |        CAST(sum(CAST(pb AS DECIMAL(19,0)) * pb) AS DOUBLE)
       |          AS sbb
       |      FROM j),
       |h AS (SELECT n, (sab - sa_ * sb_ / n) / (sbb - sb_ * sb_ / n)
       |          AS beta,
       |        sa_ / n AS ma, sb_ / n AS mb
       |      FROM m),
       |sp AS (SELECT j.date,
       |        (j.pa - h.ma) - h.beta * (j.pb - h.mb) AS sprd, h.n,
       |        h.beta
       |      FROM j CROSS JOIN h),
       |st AS (SELECT max(n) AS n, max(beta) AS beta,
       |        CAST(sum(CAST(sprd * sprd AS DECIMAL(38,6))) AS DOUBLE)
       |          AS sss,
       |        CAST(sum(CAST(sprd AS DECIMAL(38,6))) AS DOUBLE) AS ss
       |      FROM sp),
       |sig AS (SELECT sp.date, sp.sprd,
       |        (sp.sprd - st.ss / st.n)
       |          / sqrt((st.sss - st.ss * st.ss / st.n) / (st.n - 1))
       |          AS z,
       |        st.beta, st.n
       |      FROM sp CROSS JOIN st)
       |SELECT (SELECT sa FROM names) AS stock_a,
       |  (SELECT sb FROM names) AS stock_b,
       |  max(n) AS n_days, max(beta) AS hedge_beta,
       |  CAST(sum(CASE WHEN z < -2.0e0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_long_signals,
       |  CAST(sum(CASE WHEN z > 2.0e0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_short_signals
       |FROM sig""".stripMargin

  def etlStockPairsSpread(s: SparkSession, dir: String): DataFrame = {
    graft.etl.StockEtl.cleanedView(s, "graft_pair_cleaned")
    s.sql("WITH " + graft.etl.StockEtl.barsCteFor("graft_pair_cleaned") +
      ",\n" + pairsBody)
  }

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("agg_conformal_interval", aggConformalInterval,
      "WITH " + conformalSql("orders",
        "datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))")),
    QueryDef("etl_stock_pairs_spread", etlStockPairsSpread,
      "WITH cleaned AS (" + graft.etl.StockEtl.duckdbEtlSql + "),\n" +
        graft.etl.StockEtl.barsCteFor("cleaned") + ",\n" + pairsBody))
}
