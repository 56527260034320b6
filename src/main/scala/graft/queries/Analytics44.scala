package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables

/** Round-11 batch Y: two-regressor OLS econometrics and the KW
  * post-hoc.
  *
  *  - `agg_granger` — Granger causality F-test on the daily series:
  *    does yesterday's ORDER COUNT explain today's revenue beyond
  *    yesterday's revenue? Restricted (r_t ~ r_{t−1}) vs unrestricted
  *    (r_t ~ r_{t−1} + n_{t−1}) OLS, both from exact decimal moment
  *    sums, residual SSRs decimal-pinned per the `agg_newey_west`
  *    recipe, F = (SSR_r − SSR_u)/(SSR_u/(n−3)). Only O(1) ratios are
  *    emitted: a raw SSR at ~1e16 sits past 2^53·10⁻⁶ where DuckDB's
  *    decimal→double cast is not correctly rounded (the round-9
  *    win_sharpe class) and a 1-ulp flip survives round(6).
  *  - `events_bass_diffusion` — Bass diffusion model on cumulative
  *    signups: s_t = a + b·N_{t−1} + c·N²_{t−1} by the same
  *    two-regressor OLS; (m, p, q) recovered from the quadratic's
  *    positive root (NULL-guarded discriminant).
  *  - `agg_dunn_posthoc` — Dunn's pairwise z after Kruskal–Wallis,
  *    sharing the distinct-value mid-rank census of
  *    [[Analytics41.aggKruskalWallis]], with the tie-corrected
  *    variance term; one row per event-type pair.
  *
  * The two-regressor solve is Cramer's rule over CENTERED moments —
  * the 2×2 determinant never sees the raw Σx² magnitudes, so the
  * catastrophic-cancellation surface stays at ~1e-15 relative
  * (analyzed in-scaladoc per query). All Σ over rows ride exact
  * decimals; doubles appear only in O(1) scalar arithmetic.
  */
object Analytics44 {

  // ---------------------------------------------------------------------
  // shared: two-regressor OLS over a relation reg(y, x1, x2)
  // ---------------------------------------------------------------------

  /** CTEs computing the centered-moment OLS fit of y on (x1, x2).
    * Expects `reg` with DOUBLE columns y, x1, x2 whose values are
    * exact integers (the decimal-census guarantee); emits `fit` with
    * (n, b0, b1, b2) and `rfit` with the restricted (x1-only) slope.
    * Moment products are pinned to DECIMAL(38,6). */
  private def olsBody: String =
    s"""mom AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(CAST(x1 AS DECIMAL(38,6))) AS DOUBLE) AS s1,
       |  CAST(sum(CAST(x2 AS DECIMAL(38,6))) AS DOUBLE) AS s2,
       |  CAST(sum(CAST(y  AS DECIMAL(38,6))) AS DOUBLE) AS sy,
       |  CAST(sum(CAST(x1 * x1 AS DECIMAL(38,6))) AS DOUBLE) AS s11,
       |  CAST(sum(CAST(x2 * x2 AS DECIMAL(38,6))) AS DOUBLE) AS s22,
       |  CAST(sum(CAST(x1 * x2 AS DECIMAL(38,6))) AS DOUBLE) AS s12,
       |  CAST(sum(CAST(x1 * y  AS DECIMAL(38,6))) AS DOUBLE) AS s1y,
       |  CAST(sum(CAST(x2 * y  AS DECIMAL(38,6))) AS DOUBLE) AS s2y
       |  FROM reg),
       |cm AS (SELECT n, s1 / n AS m1, s2 / n AS m2, sy / n AS my,
       |  s11 - s1 * s1 / n AS c11,
       |  s22 - s2 * s2 / n AS c22,
       |  s12 - s1 * s2 / n AS c12,
       |  s1y - s1 * sy / n AS c1y,
       |  s2y - s2 * sy / n AS c2y
       |  FROM mom),
       |fit AS (SELECT n, m1, m2, my, c11, c1y,
       |  (c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12) AS b1,
       |  (c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12) AS b2,
       |  my - (c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12) * m1
       |     - (c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12) * m2
       |    AS b0
       |  FROM cm),
       |rfit AS (SELECT n, c1y / c11 AS rb1, my - c1y / c11 * m1 AS rb0
       |  FROM fit)""".stripMargin

  // ---------------------------------------------------------------------
  // agg_granger
  // ---------------------------------------------------------------------

  /** The daily census: exact-integer revenue and order count, lagged
    * one day by ROW (the series index, not the calendar — gaps carry
    * the previous trading day, the standard spelling on trade-day
    * series). */
  private def grangerSql(orders: String, dayIdx: String): String =
    s"""daily AS (
       |  SELECT CAST($dayIdx AS BIGINT) AS x,
       |         CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))))
       |              AS DECIMAL(19,0)) AS r,
       |         CAST(count(*) AS BIGINT) AS cnt
       |  FROM $orders GROUP BY 1),
       |lagged AS (SELECT CAST(r AS DOUBLE) AS y,
       |    CAST(lag(r) OVER (ORDER BY x) AS DOUBLE) AS x1,
       |    CAST(lag(cnt) OVER (ORDER BY x) AS DOUBLE) AS x2
       |  FROM daily),
       |reg AS (SELECT y, x1, x2 FROM lagged WHERE x1 IS NOT NULL),
       |$olsBody,
       |res AS (SELECT
       |  CAST(sum(CAST((reg.y - fit.b0 - fit.b1 * reg.x1
       |                 - fit.b2 * reg.x2)
       |              * (reg.y - fit.b0 - fit.b1 * reg.x1
       |                 - fit.b2 * reg.x2) AS DECIMAL(38,6)))
       |       AS DOUBLE) AS ssr_u,
       |  CAST(sum(CAST((reg.y - rfit.rb0 - rfit.rb1 * reg.x1)
       |              * (reg.y - rfit.rb0 - rfit.rb1 * reg.x1)
       |              AS DECIMAL(38,6))) AS DOUBLE) AS ssr_r
       |  FROM reg CROSS JOIN fit CROSS JOIN rfit)
       |SELECT fit.n, fit.b1 AS beta_rev_lag, fit.b2 AS beta_cnt_lag,
       |  res.ssr_r / res.ssr_u AS rss_ratio,
       |  (res.ssr_r - res.ssr_u) / (res.ssr_u / (fit.n - 3)) AS f_stat
       |FROM fit CROSS JOIN res""".stripMargin

  def aggGranger(s: SparkSession, dir: String): DataFrame = {
    Tables.sql(s, dir, "WITH " + grangerSql("orders",
      "datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01')"))
  }

  // ---------------------------------------------------------------------
  // events_bass_diffusion
  // ---------------------------------------------------------------------

  /** Daily signup counts + cumulative adopters; the discrete Bass
    * regression with x1 = N_{t−1}, x2 = N²_{t−1}. m is the positive
    * root of a + b·m + c·m² = 0 (NULL when the discriminant or c's
    * sign make no saturating solution); p = a/m, q = −c·m. */
  private def bassSql(events: String, dayIdx: String): String =
    s"""daily AS (
       |  SELECT CAST($dayIdx AS BIGINT) AS d,
       |         CAST(count(*) AS BIGINT) AS s
       |  FROM $events WHERE event_type = 'signup' GROUP BY 1),
       |cum AS (SELECT d, s,
       |    sum(s) OVER (ORDER BY d) - s AS n_prev
       |  FROM daily),
       |reg AS (SELECT CAST(s AS DOUBLE) AS y,
       |    CAST(n_prev AS DOUBLE) AS x1,
       |    CAST(n_prev * n_prev AS DOUBLE) AS x2
       |  FROM cum),
       |$olsBody
       |SELECT n AS n_days, b0 AS a, b1 AS b, b2 AS c,
       |  CASE WHEN b1 * b1 - 4.0 * b0 * b2 >= 0.0 AND b2 < 0.0
       |       THEN (-b1 - sqrt(b1 * b1 - 4.0 * b0 * b2)) / (2.0 * b2)
       |  END AS m,
       |  CASE WHEN b1 * b1 - 4.0 * b0 * b2 >= 0.0 AND b2 < 0.0
       |       THEN b0 / ((-b1 - sqrt(b1 * b1 - 4.0 * b0 * b2))
       |                  / (2.0 * b2))
       |  END AS p,
       |  CASE WHEN b1 * b1 - 4.0 * b0 * b2 >= 0.0 AND b2 < 0.0
       |       THEN -b2 * ((-b1 - sqrt(b1 * b1 - 4.0 * b0 * b2))
       |                   / (2.0 * b2))
       |  END AS q
       |FROM fit""".stripMargin

  def eventsBassDiffusion(s: SparkSession, dir: String): DataFrame = {
    Tables.sql(s, dir, "WITH " + bassSql("events",
      "datediff(CAST(ts AS DATE), DATE '2024-01-01')"))
  }

  // ---------------------------------------------------------------------
  // agg_dunn_posthoc
  // ---------------------------------------------------------------------

  /** Dunn's z for every event-type pair, from the same distinct-value
    * mid-rank census as `agg_kruskal_wallis`; variance term
    * (N(N+1)/12 − T/(12(N−1)))·(1/nᵢ + 1/nⱼ) with T = Σ(t³−t).
    * Pair identity is pinned (ta < tb) so the emitted rows are
    * order-canonical. */
  private def dunnSql(events: String): String =
    s"""v AS (SELECT event_type, CAST(value AS DOUBLE) AS x
       |      FROM $events),
       |c AS (SELECT x, CAST(count(*) AS BIGINT) AS cnt
       |      FROM v GROUP BY x),
       |rk AS (SELECT x, cnt,
       |        CAST(2 * coalesce(sum(cnt) OVER (ORDER BY x
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |            0) + cnt + 1 AS DOUBLE) / 2.0 AS mid
       |      FROM c),
       |g AS (SELECT event_type, x, CAST(count(*) AS BIGINT) AS gcnt
       |      FROM v GROUP BY 1, 2),
       |gr AS (SELECT g.event_type,
       |        CAST(sum(g.gcnt) AS BIGINT) AS n_i,
       |        sum(CAST(g.gcnt AS DOUBLE) * rk.mid) AS rsum
       |      FROM g JOIN rk ON rk.x = g.x GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
       |tie AS (SELECT CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT)
       |          AS tsum FROM c)
       |SELECT /*+ BROADCAST(a) */
       |  a.event_type AS type_a, b.event_type AS type_b,
       |  a.rsum / a.n_i - b.rsum / b.n_i AS mean_rank_diff,
       |  (a.rsum / a.n_i - b.rsum / b.n_i)
       |  / sqrt((CAST(tot.n AS DOUBLE) * (tot.n + 1) / 12.0
       |          - CAST(tie.tsum AS DOUBLE) / (12.0 * (tot.n - 1)))
       |         * (CAST(1 AS DOUBLE) / a.n_i
       |            + CAST(1 AS DOUBLE) / b.n_i)) AS dunn_z
       |FROM gr a JOIN gr b ON a.event_type < b.event_type
       |  CROSS JOIN tot CROSS JOIN tie""".stripMargin

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("agg_granger", aggGranger, "WITH " + grangerSql("orders",
      "datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))")),
    QueryDef("events_bass_diffusion", eventsBassDiffusion,
      "WITH " + bassSql("events",
        "datediff('day', DATE '2024-01-01', CAST(ts AS DATE))")),
    QueryDef.sql("agg_dunn_posthoc", "WITH " + dunnSql("events")))
}
