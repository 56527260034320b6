package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables

/** Round-11 batch AQ: method-of-moments distribution fitting — the
  * closed-form pair that needs no iterative MLE.
  *
  *  - `agg_beta_fit` — Beta(α, β) on the discount fraction
  *    (l_discount × 10 — the exact decimal rescale into [0,1]; rescaled in INTEGER hundredths — the discount grid is 0.00..0.10 step 0.01, so the whole moment pass is long arithmetic; the first cut's per-row wide-decimal ops made the 60M-row sf1 scan 6-14 s, integers make it scan-bound):
  *    α̂ = m·(m(1−m)/v − 1), β̂ = (1−m)·(m(1−m)/v − 1). The moments
  *    are exact decimal sums; m and v are rationals of exact ints.
  *  - `agg_negbin_fit` — negative binomial on daily order counts
  *    (the overdispersion model Poisson regression graduates to):
  *    r̂ = m²/(v−m), p̂ = m/v, plus the dispersion index v/m that
  *    justifies the choice (NULL-guarded when v ≤ m — that data is
  *    Poisson-or-under-dispersed and the NB fit does not exist).
  */
object Analytics62 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---------------------------------------------------------------------
  // agg_beta_fit
  // ---------------------------------------------------------------------

  private def betaSql(lineitem: String): String =
    s"""v AS (SELECT CAST(CAST(l_discount AS DECIMAL(18,2)) * 100
       |             AS BIGINT) AS c
       |      FROM $lineitem),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |        CAST(sum(c) AS BIGINT) AS sc,
       |        CAST(sum(c * c) AS BIGINT) AS scc
       |      FROM v),
       |st AS (SELECT n, CAST(sc AS DOUBLE) / (1.0e1 * n) AS mu,
       |        (CAST(scc AS DOUBLE) / 1.0e2
       |         - (CAST(sc AS DOUBLE) / 1.0e1)
       |           * (CAST(sc AS DOUBLE) / 1.0e1) / n) / (n - 1)
       |          AS var FROM m)
       |SELECT n, mu, var,
       |  mu * (mu * (1.0e0 - mu) / var - 1.0e0) AS alpha,
       |  (1.0e0 - mu) * (mu * (1.0e0 - mu) / var - 1.0e0) AS beta
       |FROM st""".stripMargin

  def aggBetaFit(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("graft_bf_lineitem")
    s.sql("WITH " + betaSql("graft_bf_lineitem"))
  }

  // ---------------------------------------------------------------------
  // agg_negbin_fit
  // ---------------------------------------------------------------------

  private def negbinSql(orders: String, dayIdx: String): String =
    s"""daily AS (
       |  SELECT CAST($dayIdx AS BIGINT) AS x,
       |         CAST(count(*) AS BIGINT) AS c
       |  FROM $orders GROUP BY 1),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |        CAST(sum(c) AS BIGINT) AS sc,
       |        CAST(sum(c * c) AS BIGINT) AS scc
       |      FROM daily),
       |st AS (SELECT n, CAST(sc AS DOUBLE) / n AS mu,
       |        (CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * sc / n)
       |          / (n - 1) AS var
       |      FROM m)
       |SELECT n AS n_days, mu, var, var / mu AS dispersion,
       |  CASE WHEN var > mu THEN mu * mu / (var - mu) END AS r_hat,
       |  CASE WHEN var > mu THEN mu / var END AS p_hat
       |FROM st""".stripMargin

  def aggNegbinFit(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("graft_nb_orders")
    s.sql("WITH " + negbinSql("graft_nb_orders",
      "datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01')"))
  }

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("agg_beta_fit", aggBetaFit, "WITH " + betaSql("lineitem")),
    QueryDef("agg_negbin_fit", aggNegbinFit, "WITH " + negbinSql("orders",
      "datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))")))
}
