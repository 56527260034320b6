package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables

/** Round-11 batch AK: the regression-diagnostics suite around the
  * daily-revenue trend fit — the checks an econometrician runs BEFORE
  * trusting `agg_regression`/`agg_granger` output.
  *
  *  - `agg_breusch_pagan` — heteroskedasticity LM test: residuals of
  *    the trend fit, e² regressed on the day index, LM = n·R².
  *    Residuals are rescaled to millions before squaring so the
  *    pinned moment products stay inside DECIMAL(38,6) at any sf
  *    (e² ~ 1e18 at sf1 would square past the 38-digit ceiling; R²
  *    is scale-invariant).
  *  - `agg_cooks_distance` — per-day influence: Dᵢ =
  *    eᵢ²·hᵢ/(2s²(1−hᵢ)²) with closed-form leverage
  *    hᵢ = 1/n + (xᵢ−x̄)²/Sxx; top-10 influential days, ties pinned
  *    by day.
  *  - `agg_vif` — variance inflation factor between the Granger
  *    regressors (lagged revenue, lagged order count):
  *    VIF = 1/(1−r²) from exact decimal moments — the collinearity
  *    gauge for every 2-regressor fit in the suite.
  */
object Analytics56 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Daily census + 1-var OLS fit CTEs (exact decimal moments). */
  private def fitCte(orders: String, dayIdx: String): String =
    s"""daily AS (
       |  SELECT CAST($dayIdx AS BIGINT) AS x,
       |         CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))))
       |              AS DECIMAL(19,0)) AS y
       |  FROM $orders GROUP BY 1),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |        CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
       |        CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
       |        CAST(sum(CAST(x AS DECIMAL(19,0)) * y) AS DOUBLE) AS sxy,
       |        CAST(sum(CAST(x AS DECIMAL(19,0)) * x) AS DOUBLE) AS sxx
       |      FROM daily),
       |fit AS (SELECT n, sx / n AS xbar, sxx - sx * sx / n AS sxx_c,
       |        (sxy - sx * sy / n) / (sxx - sx * sx / n) AS b,
       |        sy / n - (sxy - sx * sy / n) / (sxx - sx * sx / n)
       |          * (sx / n) AS a
       |      FROM m),
       |res AS (SELECT d.x,
       |        (CAST(d.y AS DOUBLE) - fit.a - fit.b * d.x) / 1.0e6
       |          AS em,
       |        fit.n, fit.xbar, fit.sxx_c
       |      FROM daily d CROSS JOIN fit)""".stripMargin

  // ---------------------------------------------------------------------
  // agg_breusch_pagan
  // ---------------------------------------------------------------------

  private def bpSql(orders: String, dayIdx: String): String =
    s"""${fitCte(orders, dayIdx)},
       |aux AS (SELECT x, em * em AS u, n FROM res),
       |am AS (SELECT CAST(max(n) AS BIGINT) AS n,
       |        CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
       |        CAST(sum(CAST(u AS DECIMAL(38,6))) AS DOUBLE) AS su,
       |        CAST(sum(CAST(x * u AS DECIMAL(38,6))) AS DOUBLE) AS sxu,
       |        CAST(sum(CAST(CAST(x AS DOUBLE) * x AS DECIMAL(38,6)))
       |             AS DOUBLE) AS sxx,
       |        CAST(sum(CAST(u * u AS DECIMAL(38,6))) AS DOUBLE) AS suu
       |      FROM aux)
       |SELECT n,
       |  ((sxu - sx * su / n) * (sxu - sx * su / n))
       |    / ((sxx - sx * sx / n) * (suu - su * su / n)) AS r2_aux,
       |  CAST(n AS DOUBLE)
       |    * ((sxu - sx * su / n) * (sxu - sx * su / n))
       |    / ((sxx - sx * sx / n) * (suu - su * su / n)) AS lm_stat
       |FROM am""".stripMargin

  def aggBreuschPagan(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("graft_bp_orders")
    s.sql("WITH " + bpSql("graft_bp_orders",
      "datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01')"))
  }

  // ---------------------------------------------------------------------
  // agg_cooks_distance
  // ---------------------------------------------------------------------

  private def cooksSql(orders: String, dayIdx: String): String =
    s"""${fitCte(orders, dayIdx)},
       |s2 AS (SELECT CAST(max(n) AS BIGINT) AS n,
       |        CAST(sum(CAST(em * em AS DECIMAL(38,18))) AS DOUBLE)
       |          AS sse
       |      FROM res),
       |d AS (SELECT r.x,
       |        (r.em * r.em)
       |          * (1.0e0 / r.n + (r.x - r.xbar) * (r.x - r.xbar)
       |                           / r.sxx_c)
       |          / (2.0e0 * (s2.sse / (s2.n - 2))
       |             * (1.0e0 - (1.0e0 / r.n
       |                         + (r.x - r.xbar) * (r.x - r.xbar)
       |                           / r.sxx_c))
       |             * (1.0e0 - (1.0e0 / r.n
       |                         + (r.x - r.xbar) * (r.x - r.xbar)
       |                           / r.sxx_c))) AS cook_d
       |      FROM res r CROSS JOIN s2),
       |rk AS (SELECT x, cook_d,
       |        row_number() OVER (ORDER BY cook_d DESC, x) AS rn
       |      FROM d)
       |SELECT CAST(rn AS BIGINT) AS rnk, x AS day, cook_d
       |FROM rk WHERE rn <= 10""".stripMargin

  def aggCooksDistance(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("graft_ck_orders")
    s.sql("WITH " + cooksSql("graft_ck_orders",
      "datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01')"))
  }

  // ---------------------------------------------------------------------
  // agg_vif
  // ---------------------------------------------------------------------

  private def vifSql(orders: String, dayIdx: String): String =
    s"""daily AS (
       |  SELECT CAST($dayIdx AS BIGINT) AS x,
       |         CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))))
       |              AS DECIMAL(19,0)) AS r,
       |         CAST(count(*) AS BIGINT) AS cnt
       |  FROM $orders GROUP BY 1),
       |lagged AS (SELECT
       |    CAST(lag(r) OVER (ORDER BY x) AS DOUBLE) AS x1,
       |    CAST(lag(cnt) OVER (ORDER BY x) AS DOUBLE) AS x2
       |  FROM daily),
       |reg AS (SELECT x1, x2 FROM lagged WHERE x1 IS NOT NULL),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |        CAST(sum(CAST(x1 AS DECIMAL(38,6))) AS DOUBLE) AS s1,
       |        CAST(sum(CAST(x2 AS DECIMAL(38,6))) AS DOUBLE) AS s2,
       |        CAST(sum(CAST(x1 * x1 AS DECIMAL(38,6))) AS DOUBLE)
       |          AS s11,
       |        CAST(sum(CAST(x2 * x2 AS DECIMAL(38,6))) AS DOUBLE)
       |          AS s22,
       |        CAST(sum(CAST(x1 * x2 AS DECIMAL(38,6))) AS DOUBLE)
       |          AS s12
       |      FROM reg)
       |SELECT n,
       |  ((s12 - s1 * s2 / n) * (s12 - s1 * s2 / n))
       |    / ((s11 - s1 * s1 / n) * (s22 - s2 * s2 / n)) AS r2_12,
       |  1.0e0 / (1.0e0
       |    - ((s12 - s1 * s2 / n) * (s12 - s1 * s2 / n))
       |      / ((s11 - s1 * s1 / n) * (s22 - s2 * s2 / n))) AS vif
       |FROM m""".stripMargin

  def aggVif(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("graft_vf_orders")
    s.sql("WITH " + vifSql("graft_vf_orders",
      "datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01')"))
  }

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("agg_breusch_pagan", aggBreuschPagan, "WITH " + bpSql("orders",
      "datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))")),
    QueryDef("agg_cooks_distance", aggCooksDistance,
      "WITH " + cooksSql("orders",
        "datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))")),
    QueryDef("agg_vif", aggVif, "WITH " + vifSql("orders",
      "datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))")))
}
