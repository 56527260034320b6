package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables

/** Round-11 batch AD: distribution fitting without erf, and the
  * directed-graph reciprocity coefficient.
  *
  *  - `agg_probit_qq` — normal QQ diagnostics of the daily-revenue
  *    series with the probit computed by ACKLAM'S rational
  *    approximation in pure shared SQL (neither engine exposes
  *    erf⁻¹): theoretical quantiles m_i = Φ⁻¹((i−0.375)/(n+0.25)),
  *    QQ correlation (≈ Shapiro–Francia W′ when squared), and the
  *    QQ-line μ̂/σ̂. Every constant is spelled in e-notation — a bare
  *    `0.02425` is a DECIMAL literal in Spark (the
  *    `agg_newey_west` lesson) while `2.425e-2` is a double in both
  *    engines, so the whole polynomial replays one IEEE sequence.
  *  - `events_weibull_fit` — Weibull shape/scale by median-rank
  *    regression (ln t vs ln(−ln(1−F)), F = (i−0.3)/(n+0.4)) over
  *    observed time-to-first-purchase durations — the
  *    reliability-engineering spelling that needs no iterative MLE.
  *  - `graph_reciprocity` — fraction of directed event-transition
  *    edges whose reverse edge also exists; |types|²-bounded census.
  *
  * All Σ over series rows ride DECIMAL(38,6)-pinned products; the
  * probit/ln outputs are continuous, so the residual libm-ulp surface
  * dies at round(6).
  */
object Analytics49 {

  // ---------------------------------------------------------------------
  // shared: Acklam's inverse normal CDF over a column name
  // ---------------------------------------------------------------------

  /** Φ⁻¹(p) for p ∈ (0,1): central region |p−½| ≤ 0.47575, rational
    * tails elsewhere. Identical text both engines. */
  private def probit(p: String): String = {
    val a = Seq("-3.969683028665376e+01", "2.209460984245205e+02",
      "-2.759285104469687e+02", "1.383577518672690e+02",
      "-3.066479806614716e+01", "2.506628277459239e+00")
    val b = Seq("-5.447609879822406e+01", "1.615858368580409e+02",
      "-1.556989798598866e+02", "6.680131188771972e+01",
      "-1.328068155288572e+01")
    val c = Seq("-7.784894002430293e-03", "-3.223964580411365e-01",
      "-2.400758277161838e+00", "-2.549732539343734e+00",
      "4.374664141464968e+00", "2.938163982698783e+00")
    val d = Seq("7.784695709041462e-03", "3.224671290700398e-01",
      "2.445134137142996e+00", "3.754408661907416e+00")
    def poly(cs: Seq[String], x: String): String =
      cs.tail.foldLeft(cs.head)((acc, k) => s"(($acc) * $x + $k)")
    val central = {
      val q = s"($p - 5.0e-1)"
      val r = s"($q * $q)"
      s"(${poly(a, r)}) * $q / ((${poly(b, r)}) * $r + 1.0e0)"
    }
    val lower = {
      val q = s"sqrt(-2.0e0 * ln($p))"
      s"(${poly(c, q)}) / ((${poly(d, q)}) * $q + 1.0e0)"
    }
    val upper = {
      val q = s"sqrt(-2.0e0 * ln(1.0e0 - $p))"
      s"-((${poly(c, q)}) / ((${poly(d, q)}) * $q + 1.0e0))"
    }
    s"""CASE WHEN $p < 2.425e-2 THEN $lower
       |     WHEN $p > 1.0e0 - 2.425e-2 THEN $upper
       |     ELSE $central END""".stripMargin
  }

  // ---------------------------------------------------------------------
  // agg_probit_qq
  // ---------------------------------------------------------------------

  private def probitQqSql(orders: String, dayIdx: String): String = {
    val pExpr = "(CAST(i AS DOUBLE) - 3.75e-1) / (CAST(n AS DOUBLE) + 2.5e-1)"
    s"""daily AS (
       |  SELECT CAST($dayIdx AS BIGINT) AS x,
       |         CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))))
       |              AS DECIMAL(19,0)) AS y
       |  FROM $orders GROUP BY 1),
       |o AS (SELECT CAST(y AS DOUBLE) AS y,
       |        CAST(row_number() OVER (ORDER BY y, x) AS BIGINT) AS i,
       |        CAST(count(*) OVER () AS BIGINT) AS n
       |      FROM daily),
       |q AS (SELECT y, i, n, ${probit(pExpr)} AS m FROM o),
       |s AS (SELECT CAST(max(n) AS BIGINT) AS n,
       |        CAST(sum(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
       |        CAST(sum(CAST(m AS DECIMAL(38,18))) AS DOUBLE) AS sm,
       |        CAST(sum(CAST(y * m AS DECIMAL(38,6))) AS DOUBLE) AS sym,
       |        CAST(sum(CAST(m * m AS DECIMAL(38,18))) AS DOUBLE) AS smm,
       |        CAST(sum(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy
       |      FROM q)
       |SELECT n,
       |  (sym - sm * sy / n)
       |    / sqrt((smm - sm * sm / n) * (syy - sy * sy / n)) AS qq_corr,
       |  ((sym - sm * sy / n) / sqrt((smm - sm * sm / n)
       |                              * (syy - sy * sy / n)))
       |  * ((sym - sm * sy / n) / sqrt((smm - sm * sm / n)
       |                                * (syy - sy * sy / n)))
       |    AS w_prime,
       |  (sym - sm * sy / n) / (smm - sm * sm / n) AS sigma_hat,
       |  sy / n - (sym - sm * sy / n) / (smm - sm * sm / n) * (sm / n)
       |    AS mu_hat
       |FROM s""".stripMargin
  }

  def aggProbitQq(s: SparkSession, dir: String): DataFrame = {
    Tables.sql(s, dir, "WITH " + probitQqSql("orders",
      "datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01')"))
  }

  // ---------------------------------------------------------------------
  // events_weibull_fit
  // ---------------------------------------------------------------------

  /** Observed (uncensored, ≤48 h, strictly positive) time-to-first-
    * purchase in seconds; median-rank regression on the log-log
    * linearization. Slope = shape k; scale λ = exp(−b0/k). */
  private def weibullSql(events: String, epochSec: String => String): String =
    s"""u AS (SELECT user_id, min(${epochSec("ts")}) AS f
       |      FROM $events GROUP BY user_id),
       |p AS (SELECT user_id, min(${epochSec("ts")}) AS fp
       |      FROM $events WHERE event_type = 'purchase'
       |      GROUP BY user_id),
       |d AS (SELECT u.user_id, p.fp - u.f AS sec
       |      FROM u JOIN p ON p.user_id = u.user_id
       |      WHERE p.fp > u.f AND p.fp - u.f <= 172800),
       |r AS (SELECT CAST(sec AS DOUBLE) AS tt,
       |        CAST(row_number() OVER (ORDER BY sec, user_id) AS BIGINT)
       |          AS i,
       |        CAST(count(*) OVER () AS BIGINT) AS n
       |      FROM d),
       |xy AS (SELECT ln(tt) AS x,
       |        ln(-ln(1.0e0 - (CAST(i AS DOUBLE) - 3.0e-1)
       |                       / (CAST(n AS DOUBLE) + 4.0e-1))) AS y,
       |        n
       |      FROM r),
       |m AS (SELECT CAST(max(n) AS BIGINT) AS n,
       |        CAST(sum(CAST(x AS DECIMAL(38,18))) AS DOUBLE) AS sx,
       |        CAST(sum(CAST(y AS DECIMAL(38,18))) AS DOUBLE) AS sy,
       |        CAST(sum(CAST(x * y AS DECIMAL(38,18))) AS DOUBLE) AS sxy,
       |        CAST(sum(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS sxx,
       |        CAST(sum(CAST(y * y AS DECIMAL(38,18))) AS DOUBLE) AS syy
       |      FROM xy)
       |SELECT n AS n_obs,
       |  (sxy - sx * sy / n) / (sxx - sx * sx / n) AS shape_k,
       |  exp((sx / n) - (sy / n) * (sxx - sx * sx / n)
       |                 / (sxy - sx * sy / n)) AS scale_sec,
       |  ((sxy - sx * sy / n) * (sxy - sx * sy / n))
       |    / ((sxx - sx * sx / n) * (syy - sy * sy / n)) AS r2
       |FROM m""".stripMargin

  def eventsWeibullFit(s: SparkSession, dir: String): DataFrame = {
    Tables.sql(s, dir, "WITH " + weibullSql("events",
      ts => s"unix_timestamp($ts)"))
  }

  // ---------------------------------------------------------------------
  // graph_reciprocity
  // ---------------------------------------------------------------------

  /** Directed edges = distinct consecutive event-type transitions per
    * user (self-loops dropped); reciprocity = fraction with the
    * reverse edge present. Bounded by |types|². */
  private def reciprocitySql(events: String): String =
    s"""eo AS (SELECT user_id, event_type AS src, ts, event_id
       |      FROM $events),
       |tr AS (SELECT src,
       |        lead(src) OVER (PARTITION BY user_id
       |          ORDER BY ts, event_id) AS dst
       |      FROM eo),
       |ed AS (SELECT DISTINCT src, dst FROM tr
       |       WHERE dst IS NOT NULL AND dst <> src),
       |rec AS (SELECT a.src, a.dst,
       |         CASE WHEN b.src IS NOT NULL THEN 1 ELSE 0 END AS has_rev
       |       FROM ed a LEFT JOIN ed b
       |         ON b.src = a.dst AND b.dst = a.src)
       |SELECT CAST(count(*) AS BIGINT) AS n_edges,
       |  CAST(sum(has_rev) AS BIGINT) AS n_reciprocal,
       |  CAST(sum(has_rev) AS DOUBLE) / count(*) AS reciprocity
       |FROM rec""".stripMargin

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("agg_probit_qq", aggProbitQq, "WITH " + probitQqSql("orders",
      "datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))")),
    QueryDef("events_weibull_fit", eventsWeibullFit,
      "WITH " + weibullSql("events",
        ts => s"CAST(floor(epoch(CAST($ts AS TIMESTAMP))) AS BIGINT)")),
    QueryDef.sql("graph_reciprocity",
      "WITH " + reciprocitySql("events")))
}
