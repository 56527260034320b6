package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables

/** Round-11 batch S: heteroskedasticity-robust inference, engagement
  * scoring, and seasonal exponential smoothing.
  *
  *  - `agg_newey_west` — HAC (Newey–West, Bartlett kernel, L = 5)
  *    standard error of the daily-revenue trend slope next to the
  *    plain OLS error: the spelling an econometrician actually
  *    trusts on autocorrelated residuals.
  *  - `events_decay_score` — exponential time-decay engagement score
  *    per user (λ = 0.05/day against the corpus high-water mark) —
  *    the lead-scoring shape CRMs compute at every refresh.
  *  - `win_holt_winters` — additive Holt–Winters (α 0.2, β 0.1,
  *    γ 0.3, weekly period) per user: level/trend/7 seasonal slots
  *    folded in one IEEE replay, emitting the final state and the
  *    one-step forecast. The seasonal slots ride SEVEN NAMED FIELDS
  *    (not an array) so the identical CASE-per-slot update runs on
  *    both engines.
  */
object Analytics39 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---------------------------------------------------------------------
  // agg_newey_west
  // ---------------------------------------------------------------------

  /** OLS slope from exact decimal moments (the `agg_chow_test`
    * census); residual autocovariances up to lag 5 with Bartlett
    * weights 1 − l/(L+1). Only O(1) quantities (slope, the two
    * standard errors, their ratio) are emitted. The per-row residual
    * products are doubles (bit-identical on both engines) but their
    * corpus Σ is accumulation-order-dependent, so each product is
    * pinned to DECIMAL(38,6) before summing (order-free; the cast's
    * half-ulp noise is ~1e-16 relative — invisible at round(6)). */
  private def nwSql(orders: String, dayIdx: String): String =
    s"""daily AS (
       |  SELECT CAST($dayIdx AS BIGINT) AS x,
       |         CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))))
       |              AS DECIMAL(19,0)) AS y
       |  FROM $orders GROUP BY 1),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
       |  CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
       |  CAST(sum(CAST(x AS DECIMAL(19,0)) * y) AS DOUBLE) AS sxy,
       |  CAST(sum(CAST(x AS DECIMAL(19,0)) * x) AS DOUBLE) AS sxx
       |  FROM daily),
       |fit AS (SELECT n, sx / n AS xbar,
       |  (sxy - sx * sy / n) / (sxx - sx * sx / n) AS b,
       |  sy / n - (sxy - sx * sy / n) / (sxx - sx * sx / n) * sx / n
       |    AS a,
       |  sxx - sx * sx / n AS sxx_c
       |  FROM m),
       |u AS (SELECT daily.x,
       |    CAST(daily.y AS DOUBLE) - fit.a - fit.b * daily.x AS e,
       |    (daily.x - fit.xbar)
       |      * (CAST(daily.y AS DOUBLE) - fit.a - fit.b * daily.x) AS u,
       |    fit.n, fit.b, fit.sxx_c
       |  FROM daily CROSS JOIN fit),
       |lagged AS (SELECT x, e, u, n, b, sxx_c,
       |    lag(u, 1) OVER (ORDER BY x) AS u1,
       |    lag(u, 2) OVER (ORDER BY x) AS u2,
       |    lag(u, 3) OVER (ORDER BY x) AS u3,
       |    lag(u, 4) OVER (ORDER BY x) AS u4,
       |    lag(u, 5) OVER (ORDER BY x) AS u5
       |  FROM u),
       |s AS (SELECT max(n) AS n, max(b) AS b, max(sxx_c) AS sxx_c,
       |    CAST(sum(CAST(e * e AS DECIMAL(38,6))) AS DOUBLE) AS ssr,
       |    CAST(sum(CAST(u * u AS DECIMAL(38,6))) AS DOUBLE) AS s0,
       |    CAST(sum(CAST(u * coalesce(u1, CAST(0.0 AS DOUBLE))
       |      AS DECIMAL(38,6))) AS DOUBLE) AS s1,
       |    CAST(sum(CAST(u * coalesce(u2, CAST(0.0 AS DOUBLE))
       |      AS DECIMAL(38,6))) AS DOUBLE) AS s2,
       |    CAST(sum(CAST(u * coalesce(u3, CAST(0.0 AS DOUBLE))
       |      AS DECIMAL(38,6))) AS DOUBLE) AS s3,
       |    CAST(sum(CAST(u * coalesce(u4, CAST(0.0 AS DOUBLE))
       |      AS DECIMAL(38,6))) AS DOUBLE) AS s4,
       |    CAST(sum(CAST(u * coalesce(u5, CAST(0.0 AS DOUBLE))
       |      AS DECIMAL(38,6))) AS DOUBLE) AS s5
       |  FROM lagged)
       |SELECT n AS n_days, b AS slope,
       |  sqrt((ssr / (n - 2)) / sxx_c) AS se_ols,
       |  sqrt((s0 + 2.0 * ((5.0 / CAST(6.0 AS DOUBLE)) * s1
       |        + (4.0 / CAST(6.0 AS DOUBLE)) * s2
       |        + (3.0 / CAST(6.0 AS DOUBLE)) * s3
       |        + (2.0 / CAST(6.0 AS DOUBLE)) * s4
       |        + (1.0 / CAST(6.0 AS DOUBLE)) * s5)) / (sxx_c * sxx_c)) AS se_hac,
       |  sqrt((s0 + 2.0 * ((5.0 / CAST(6.0 AS DOUBLE)) * s1
       |        + (4.0 / CAST(6.0 AS DOUBLE)) * s2
       |        + (3.0 / CAST(6.0 AS DOUBLE)) * s3
       |        + (2.0 / CAST(6.0 AS DOUBLE)) * s4
       |        + (1.0 / CAST(6.0 AS DOUBLE)) * s5)) / (sxx_c * sxx_c))
       |  / sqrt((ssr / (n - 2)) / sxx_c) AS hac_inflation
       |FROM s""".stripMargin

  def aggNeweyWest(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("graft_nw_orders")
    s.sql("WITH " + nwSql("graft_nw_orders",
      "datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01')"))
  }

  // ---------------------------------------------------------------------
  // events_decay_score
  // ---------------------------------------------------------------------

  /** score(u) = Σ_events exp(−0.05 · age_days), age against the
    * corpus max timestamp — one scan, one broadcastable scalar, one
    * per-user aggregation. */
  private def decaySql(events: String, epochUs: String => String): String =
    s"""e AS (SELECT user_id, ${epochUs("ts")} AS us FROM $events),
       |hwm AS (SELECT max(us) AS mx FROM e)
       |SELECT e.user_id, CAST(count(*) AS BIGINT) AS n_events,
       |  sum(exp(-0.05 * (CAST(hwm.mx - e.us AS DOUBLE)
       |                   / 86400000000.0))) AS decay_score
       |FROM e CROSS JOIN hwm GROUP BY e.user_id""".stripMargin

  def eventsDecayScore(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events").createOrReplaceTempView("graft_dk_events")
    s.sql("WITH " + decaySql("graft_dk_events",
      ts => s"unix_micros($ts)"))
  }

  // ---------------------------------------------------------------------
  // win_holt_winters
  // ---------------------------------------------------------------------

  /** Next-state expressions for additive HW over accessor names. The
    * new level expression is inlined at every use — same bits, both
    * engines. `j` is the season slot of the INCOMING observation
    * (i % 7 where i counts consumed observations). */
  private def hwStep(l: String, b: String, ss: Seq[String], i: String,
      y: String): (String, String, Seq[String], String) = {
    def sj = ss.zipWithIndex.map { case (s, k) =>
      s"CASE WHEN $i % 7 = $k THEN $s ELSE CAST(0.0 AS DOUBLE) END"
    }.mkString("(", " + ", ")")
    val nl = s"(0.2 * ($y - $sj) + 0.8 * ($l + $b))"
    val nb = s"(0.1 * ($nl - $l) + 0.9 * $b)"
    val nss = ss.zipWithIndex.map { case (s, k) =>
      s"""CASE WHEN $i % 7 = $k
         |  THEN 0.3 * ($y - $nl) + 0.7 * $s ELSE $s END""".stripMargin
    }
    (nl, nb, nss, s"$i + 1")
  }

  def winHoltWinters(s: SparkSession, dir: String): DataFrame = {
    val slots = (0 until 7).map(k => s"acc.s$k")
    val (nl, nb, nss, ni) = hwStep("acc.l", "acc.b", slots, "acc.i", "v")
    val seed = "named_struct('l', vs[0], 'b', CAST(0.0 AS DOUBLE), " +
      (0 until 7).map(k => s"'s$k', CAST(0.0 AS DOUBLE)")
        .mkString(", ") + ", 'i', 1L)"
    val next = s"named_struct('l', $nl, 'b', $nb, " +
      nss.zipWithIndex.map { case (e, k) => s"'s$k', $e" }
        .mkString(", ") + s", 'i', $ni)"
    t(s, dir, "events")
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("ts"), col("event_id"),
        col("value")))).as("xs"))
      .select(col("user_id"), expr("transform(xs, x -> x.value)").as("vs"))
      .select(col("user_id"), size(col("vs")).cast("long").as("n_events"),
        expr(s"""aggregate(slice(vs, 2, size(vs) - 1), $seed,
                 (acc, v) -> $next)""").as("f"))
      .select(col("user_id"), col("n_events"),
        col("f.l").as("level"), col("f.b").as("trend"),
        // one-step forecast: level + trend + the NEXT slot's seasonal
        (col("f.l") + col("f.b") + (0 until 7).map(k =>
          when(col("f.i") % 7 === k, col(s"f.s$k"))
            .otherwise(lit(0.0))).reduce(_ + _)).as("forecast_1"))
  }

  private def hwOracleSql: String = {
    val slots = (0 until 7).map(k => s"f.s$k")
    val (nl, nb, nss, ni) = hwStep("f.l", "f.b", slots, "f.i", "v.x")
    val fieldList = "l, b, " + (0 until 7).map(k => s"s$k")
      .mkString(", ") + ", i"
    s"""WITH RECURSIVE
       |v AS (SELECT user_id,
       |        row_number() OVER (PARTITION BY user_id
       |          ORDER BY ts, event_id) AS rn,
       |        CAST(value AS DOUBLE) AS x FROM events),
       |n AS (SELECT user_id, max(rn) AS n FROM v GROUP BY user_id),
       |f(user_id, rn, $fieldList) AS (
       |  SELECT user_id, 1, x, CAST(0.0 AS DOUBLE),
       |    ${(0 until 7).map(_ => "CAST(0.0 AS DOUBLE)").mkString(", ")},
       |    CAST(1 AS BIGINT)
       |  FROM v WHERE rn = 1
       |  UNION ALL
       |  SELECT f.user_id, f.rn + 1, $nl, $nb,
       |    ${nss.mkString(",\n    ")},
       |    $ni
       |  FROM f JOIN v ON v.user_id = f.user_id AND v.rn = f.rn + 1)
       |SELECT f.user_id, CAST(n.n AS BIGINT) AS n_events,
       |  f.l AS level, f.b AS trend,
       |  f.l + f.b + ${(0 until 7).map(k =>
      s"(CASE WHEN f.i % 7 = $k THEN f.s$k ELSE CAST(0.0 AS DOUBLE) END)")
      .mkString(" + ")} AS forecast_1
       |FROM f JOIN n ON n.user_id = f.user_id WHERE f.rn = n.n""".stripMargin
  }

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("agg_newey_west", aggNeweyWest, "WITH " + nwSql("orders",
      "datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))")),
    QueryDef("events_decay_score", eventsDecayScore,
      "WITH " + decaySql("events",
        ts => s"epoch_us(CAST($ts AS TIMESTAMP))")),
    QueryDef("win_holt_winters", winHoltWinters, hwOracleSql))
}
