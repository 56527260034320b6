package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables

/** Round-11 batch AE: the normal-CDF pair — goodness-of-fit and
  * option pricing — on a shared Φ approximation.
  *
  *  - `agg_anderson_darling` — the Anderson–Darling normality test of
  *    daily revenue (the tail-sensitive complement to `agg_ks_test` /
  *    `agg_jarque_bera` / `agg_probit_qq`), with the finite-sample
  *    A*² correction.
  *  - `etl_stock_black_scholes` — Black–Scholes ATM call pricing over
  *    the REFERENCE's own stock table: realized volatility from
  *    log-return moments per stock, 21-bar tenor, zero carry — the
  *    classic quant computation a stock warehouse derives right after
  *    the load.
  *
  * Φ is the Zelen–Severo (A&S 26.2.17) five-term approximation,
  * |ε| < 7.5e-8, spelled ONCE in shared SQL text (neither engine has
  * erf): both engines replay the identical IEEE sequence, so the
  * approximation error cancels exactly in the cross-engine compare —
  * what is graded is the ENGINE parity of the computation, with the
  * numeric-analysis caveat documented here rather than hidden. All
  * constants ride e-notation (bare decimal literals are DECIMAL
  * arithmetic in Spark — the `agg_newey_west` lesson).
  */
object Analytics50 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---------------------------------------------------------------------
  // shared: Φ(x) over an expression
  // ---------------------------------------------------------------------

  /** Zelen–Severo Φ for any real expression. `x` must be a bare
    * column/alias reference (it is inlined many times). */
  private def normCdf(x: String): String = {
    def half(ax: String): String = {
      val tt = s"(1.0e0 / (1.0e0 + 2.316419e-1 * $ax))"
      val poly = s"((((1.330274429e0 * $tt - 1.821255978e0) * $tt" +
        s" + 1.781477937e0) * $tt - 3.56563782e-1) * $tt" +
        s" + 3.1938153e-1) * $tt"
      s"(1.0e0 - exp(-$ax * $ax / 2.0e0) / 2.5066282746310002e0 * ($poly))"
    }
    s"""(CASE WHEN $x >= 0.0e0 THEN ${half(x)}
       |      ELSE 1.0e0 - ${half(s"(-$x)")} END)""".stripMargin
  }

  // ---------------------------------------------------------------------
  // agg_anderson_darling
  // ---------------------------------------------------------------------

  /** A² = −n − (1/n)·Σ (2i−1)(ln Φ(z_(i)) + ln(1−Φ(z_(n+1−i)))) with
    * z standardized by the exact-moment μ̂/σ̂; A*² applies the
    * finite-sample factor. The Σ is DECIMAL(38,18)-pinned over the
    * day census. */
  private def adSql(orders: String, dayIdx: String): String =
    s"""daily AS (
       |  SELECT CAST($dayIdx AS BIGINT) AS x,
       |         CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))))
       |              AS DECIMAL(19,0)) AS y
       |  FROM $orders GROUP BY 1),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |        CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
       |        CAST(sum(CAST(y AS DECIMAL(19,0)) * y) AS DOUBLE) AS syy
       |      FROM daily),
       |st AS (SELECT n, sy / n AS mu,
       |        sqrt((syy - sy * sy / n) / (n - 1)) AS sd FROM m),
       |z AS (SELECT (CAST(d.y AS DOUBLE) - st.mu) / st.sd AS zv,
       |        CAST(row_number() OVER (ORDER BY CAST(d.y AS DOUBLE), d.x)
       |             AS BIGINT) AS i,
       |        st.n
       |      FROM daily d CROSS JOIN st),
       |ph AS (SELECT i, n, ${normCdf("zv")} AS phi FROM z),
       |pair AS (SELECT a.i, a.n,
       |        (2.0e0 * a.i - 1.0e0)
       |          * (ln(a.phi) + ln(1.0e0 - b.phi)) AS term
       |      FROM ph a JOIN ph b ON b.i = a.n + 1 - a.i),
       |s AS (SELECT CAST(max(n) AS BIGINT) AS n,
       |        CAST(sum(CAST(term AS DECIMAL(38,18))) AS DOUBLE) AS tsum
       |      FROM pair)
       |SELECT n, -CAST(n AS DOUBLE) - tsum / n AS a2,
       |  (-CAST(n AS DOUBLE) - tsum / n)
       |    * (1.0e0 + 7.5e-1 / n + 2.25e0 / (CAST(n AS DOUBLE) * n))
       |    AS a2_star
       |FROM s""".stripMargin

  def aggAndersonDarling(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("graft_ad_orders")
    s.sql("WITH " + adSql("graft_ad_orders",
      "datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01')"))
  }

  // ---------------------------------------------------------------------
  // etl_stock_black_scholes
  // ---------------------------------------------------------------------

  /** Expects a `bars(stock_name, date, price)` relation (the
    * `etl_stock_obv` consolidation). Realized σ from log-return
    * moments (DECIMAL-pinned), annualized ×√252; ATM call, 21 bars to
    * expiry, zero rate: d1 = σ√T/2, d2 = −d1,
    * C = S·(Φ(d1) − Φ(d2)). */
  private def bsBody: String =
    s"""rets AS (SELECT stock_name,
       |        ln(price / lag(price) OVER (PARTITION BY stock_name
       |                                    ORDER BY date)) AS r,
       |        price, date
       |      FROM bars WHERE price IS NOT NULL),
       |lastpx AS (SELECT stock_name, price AS s0 FROM (
       |        SELECT stock_name, price,
       |          row_number() OVER (PARTITION BY stock_name
       |                             ORDER BY date DESC) AS rn
       |        FROM bars WHERE price IS NOT NULL) WHERE rn = 1),
       |vol AS (SELECT stock_name, CAST(count(r) AS BIGINT) AS n_rets,
       |        sqrt((CAST(sum(CAST(r * r AS DECIMAL(38,18))) AS DOUBLE)
       |              - CAST(sum(CAST(r AS DECIMAL(38,18))) AS DOUBLE)
       |                * CAST(sum(CAST(r AS DECIMAL(38,18))) AS DOUBLE)
       |                / count(r))
       |             / (count(r) - 1)) * sqrt(2.52e2) AS sigma
       |      FROM rets WHERE r IS NOT NULL GROUP BY stock_name),
       |d AS (SELECT v.stock_name, v.n_rets, v.sigma, l.s0,
       |        v.sigma * sqrt(2.1e1 / 2.52e2) / 2.0e0 AS d1
       |      FROM vol v JOIN lastpx l ON l.stock_name = v.stock_name
       |      WHERE v.sigma > 0.0e0),
       |ph AS (SELECT stock_name, n_rets, sigma, s0, d1,
       |        ${normCdf("d1")} AS nd1 FROM d),
       |ph2 AS (SELECT stock_name, n_rets, sigma, s0, d1, nd1,
       |        ${normCdf("(-d1)")} AS nd2 FROM ph)
       |SELECT stock_name, n_rets, sigma AS sigma_ann,
       |  s0 AS spot,
       |  s0 * (nd1 - nd2) AS call_px,
       |  nd1 - nd2 AS call_over_spot
       |FROM ph2""".stripMargin

  def etlStockBlackScholes(s: SparkSession, dir: String): DataFrame = {
    graft.etl.StockEtl.cleanedView(s, "graft_bs_cleaned")
    s.sql("WITH " + graft.etl.StockEtl.barsCteFor("graft_bs_cleaned") +
      ",\n" + bsBody)
  }

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("agg_anderson_darling", aggAndersonDarling,
      "WITH " + adSql("orders",
        "datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))")),
    QueryDef("etl_stock_black_scholes", etlStockBlackScholes,
      "WITH cleaned AS (" + graft.etl.StockEtl.duckdbEtlSql + "),\n" +
        graft.etl.StockEtl.barsCteFor("cleaned") + ",\n" + bsBody))
}
