package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables

/** Round-11 batch AH: resampling-without-randomness and lead/lag
  * dependence.
  *
  *  - `agg_jackknife_ratio` — leave-one-out jackknife standard error
  *    of the RATIO estimator (mean revenue per order = Σrevenue /
  *    Σorders over days): the resampling method whose replicates are
  *    a closed form over exact totals, so — unlike the bootstrap — it
  *    needs no randomness at all. Complements
  *    `agg_poisson_bootstrap`; each leave-one-day-out replicate is an
  *    identical IEEE quotient of exact decimals. Replicates are
  *    CENTERED on θ̂ before squaring: the raw Σθᵢ² cancels nine
  *    orders against (Σθᵢ)²/n, amplifying the high-scale
  *    decimal→double cast ulp to 1e-7 (observed red at sf0.1) —
  *    deviations keep the pinned sums at the variance's own scale.
  *  - `events_ccf` — the cross-correlation function between daily
  *    revenue and daily order count at lags −5..+5 (which leads
  *    which?), the bivariate complement of `events_acf`; one row per
  *    lag, decimal-pinned cross-moments at every shift.
  */
object Analytics53 {

  // ---------------------------------------------------------------------
  // agg_jackknife_ratio
  // ---------------------------------------------------------------------

  private def jackknifeSql(orders: String, dayIdx: String): String =
    s"""daily AS (
       |  SELECT CAST($dayIdx AS BIGINT) AS x,
       |         CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))))
       |              AS DECIMAL(19,0)) AS y,
       |         CAST(count(*) AS BIGINT) AS m
       |  FROM $orders GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |        CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
       |        CAST(sum(m) AS BIGINT) AS sm
       |      FROM daily),
       |loo AS (SELECT d.x,
       |        (tot.sy - CAST(d.y AS DOUBLE))
       |          / (CAST(tot.sm AS DOUBLE) - d.m)
       |          - tot.sy / tot.sm AS dev,
       |        tot.n, tot.sy, tot.sm
       |      FROM daily d CROSS JOIN tot),
       |jk AS (SELECT CAST(max(n) AS BIGINT) AS n,
       |        max(sy) AS sy, max(sm) AS sm,
       |        CAST(sum(CAST(dev AS DECIMAL(38,18))) AS DOUBLE) AS sd,
       |        CAST(sum(CAST(dev * dev AS DECIMAL(38,18))) AS DOUBLE)
       |          AS sdd
       |      FROM loo)
       |SELECT n AS n_days, sy / sm AS theta_hat,
       |  sqrt((CAST(n AS DOUBLE) - 1.0e0) / n
       |       * (sdd - sd * sd / n)) AS jackknife_se,
       |  (CAST(n AS DOUBLE) * (sy / sm)) - (CAST(n AS DOUBLE) - 1.0e0)
       |    * (sy / sm + sd / n) AS bias_corrected
       |FROM jk""".stripMargin

  def aggJackknifeRatio(s: SparkSession, dir: String): DataFrame = {
    Tables.sql(s, dir, "WITH " + jackknifeSql("orders",
      "datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01')"))
  }

  // ---------------------------------------------------------------------
  // events_ccf
  // ---------------------------------------------------------------------

  /** r(ℓ) = Σ(a_t−ā)(b_{t+ℓ}−b̄) / (n_ℓ·σ_a·σ_b) over the day-rank
    * series (gaps closed by ranking, the `agg_granger` convention);
    * σs are the full-series standard deviations (exact moments) so
    * only the cross term varies by lag. Lags ride an engine-specific
    * integer series like `agg_fisher_exact`. */
  private def ccfBody: String =
    s"""m AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |        CAST(sum(CAST(a AS DECIMAL(38,0))) AS DOUBLE) AS sa,
       |        CAST(sum(CAST(b AS DECIMAL(38,0))) AS DOUBLE) AS sb,
       |        CAST(sum(CAST(a AS DECIMAL(19,0)) * a) AS DOUBLE) AS saa,
       |        CAST(sum(CAST(b AS DECIMAL(19,0)) * b) AS DOUBLE) AS sbb
       |      FROM ser),
       |st AS (SELECT n, sa / n AS ma, sb / n AS mb,
       |        sqrt((saa - sa * sa / n) / n) AS da,
       |        sqrt((sbb - sb * sb / n) / n) AS db
       |      FROM m),
       |x AS (SELECT /*+ BROADCAST(lg), BROADCAST(st) */ lg.l, s1.i,
       |        (CAST(s1.a AS DOUBLE) - st.ma)
       |          * (CAST(s2.b AS DOUBLE) - st.mb) AS prod,
       |        st.n, st.da, st.db
       |      FROM lg CROSS JOIN st
       |        JOIN ser s1 ON true
       |        JOIN ser s2 ON s2.i = s1.i + lg.l),
       |r AS (SELECT l, max(n) AS n, max(da) AS da, max(db) AS db,
       |        CAST(count(*) AS BIGINT) AS n_pairs,
       |        CAST(sum(CAST(prod AS DECIMAL(38,6))) AS DOUBLE) AS sp
       |      FROM x GROUP BY l)
       |SELECT l AS lag, n_pairs,
       |  sp / (CAST(n_pairs AS DOUBLE) * da * db) AS ccf
       |FROM r""".stripMargin

  private def ccfSeries(orders: String, dayIdx: String): String =
    s"""ser AS (
       |  SELECT CAST(row_number() OVER (ORDER BY x) AS BIGINT) AS i,
       |    y AS a, m AS b FROM (
       |    SELECT CAST($dayIdx AS BIGINT) AS x,
       |      CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))))
       |           AS DECIMAL(19,0)) AS y,
       |      CAST(count(*) AS BIGINT) AS m
       |    FROM $orders GROUP BY 1))""".stripMargin

  def eventsCcf(s: SparkSession, dir: String): DataFrame = {
    Tables.sql(s, dir, "WITH " + ccfSeries("orders",
      "datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01')") +
      ",\nlg AS (SELECT explode(sequence(-5L, 5L)) AS l),\n" + ccfBody)
  }

  private val ccfOracleSql: String =
    "WITH " + ccfSeries("orders",
      "datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))") +
      ",\nlg AS (SELECT CAST(unnest(generate_series(-5, 5)) AS BIGINT)" +
      " AS l),\n" + ccfBody

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("agg_jackknife_ratio", aggJackknifeRatio,
      "WITH " + jackknifeSql("orders",
        "datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))")),
    QueryDef("events_ccf", eventsCcf, ccfOracleSql))
}
