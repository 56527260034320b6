package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables

/** Round-11 batch AO: decomposable inequality and retention decay.
  *
  *  - `agg_theil_decomposition` — the Theil T index of order-value
  *    inequality with its EXACT between/within decomposition by
  *    order priority (T = T_between + Σ s_g·T_g — the property Gini
  *    lacks and the reason Theil is the index used for drill-downs).
  *    All x·ln x sums are DECIMAL(38,18)-pinned; the spec verifies
  *    the decomposition identity to 1e-12.
  *  - `events_retention_halflife` — weekly cohort retention (week-0
  *    signups, active-any-event by week) fitted to exponential decay
  *    by log-linear OLS; emits the weekly curve parameters and the
  *    implied half-life in weeks — the growth-analytics readout on
  *    top of `events_retention`.
  */
object Analytics60 {

  // ---------------------------------------------------------------------
  // agg_theil_decomposition
  // ---------------------------------------------------------------------

  private def theilSql(orders: String): String =
    s"""v AS (SELECT o_orderpriority AS g,
       |        CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS x
       |      FROM $orders),
       |gm AS (SELECT g, CAST(count(*) AS BIGINT) AS ng,
       |        CAST(sum(CAST(x AS DECIMAL(38,2))) AS DOUBLE) AS sg
       |      FROM v GROUP BY g),
       |tm AS (SELECT CAST(sum(ng) AS BIGINT) AS n,
       |        CAST(sum(CAST(sg AS DECIMAL(38,6))) AS DOUBLE) AS s
       |      FROM gm),
       |tt AS (SELECT
       |        CAST(sum(CAST((v.x / (tm.s / tm.n))
       |                      * ln(v.x / (tm.s / tm.n))
       |                      AS DECIMAL(38,18))) AS DOUBLE) / max(tm.n)
       |          AS t_total
       |      FROM v CROSS JOIN tm),
       |tw AS (SELECT gm.g, gm.ng, gm.sg,
       |        CAST(sum(CAST((v.x / (gm.sg / gm.ng))
       |                      * ln(v.x / (gm.sg / gm.ng))
       |                      AS DECIMAL(38,18))) AS DOUBLE) / max(gm.ng)
       |          AS t_g
       |      FROM v JOIN gm ON gm.g = v.g GROUP BY gm.g, gm.ng, gm.sg),
       |agg AS (SELECT
       |        CAST(sum(CAST((tw.sg / tm.s) * tw.t_g AS DECIMAL(38,18)))
       |             AS DOUBLE) AS t_within,
       |        CAST(sum(CAST((tw.sg / tm.s)
       |                      * ln((tw.sg / tw.ng) / (tm.s / tm.n))
       |                      AS DECIMAL(38,18))) AS DOUBLE) AS t_between
       |      FROM tw CROSS JOIN tm)
       |SELECT tt.t_total, agg.t_between, agg.t_within,
       |  agg.t_between + agg.t_within AS t_recomposed
       |FROM tt CROSS JOIN agg""".stripMargin

  // ---------------------------------------------------------------------
  // events_retention_halflife
  // ---------------------------------------------------------------------

  /** Cohort = users whose FIRST event falls in the corpus's first
    * week; r_w = fraction active (any event) in week w. Weeks are
    * integer quotients of day offsets from the corpus minimum —
    * engine-agnostic integer arithmetic. Log-linear OLS over the
    * (tiny) weekly curve; half-life = −ln 2 / slope (NULL when the
    * curve isn't decaying). */
  private def halflifeSql(events: String, epochSec: String => String): String =
    s"""e AS (SELECT user_id, ${epochSec("ts")} AS sec FROM $events),
       |t0 AS (SELECT min(sec) AS m FROM e),
       |w AS (SELECT e.user_id,
       |        CAST(floor((e.sec - t0.m) / 6.048e5) AS BIGINT) AS wk
       |      FROM e CROSS JOIN t0),
       |cohort AS (SELECT user_id FROM w GROUP BY user_id
       |           HAVING min(wk) = 0),
       |cw AS (SELECT DISTINCT w.user_id, w.wk
       |      FROM w JOIN cohort c ON c.user_id = w.user_id),
       |n0 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM cohort),
       |curve AS (SELECT wk, CAST(count(*) AS BIGINT) AS active,
       |        CAST(count(*) AS DOUBLE) / max(n0.n) AS r
       |      FROM cw CROSS JOIN n0 GROUP BY wk),
       |xy AS (SELECT CAST(wk AS DOUBLE) AS x, ln(r) AS y FROM curve
       |       WHERE r > 0.0e0),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |        CAST(sum(CAST(x AS DECIMAL(38,18))) AS DOUBLE) AS sx,
       |        CAST(sum(CAST(y AS DECIMAL(38,18))) AS DOUBLE) AS sy,
       |        CAST(sum(CAST(x * y AS DECIMAL(38,18))) AS DOUBLE)
       |          AS sxy,
       |        CAST(sum(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE)
       |          AS sxx
       |      FROM xy)
       |SELECT n AS n_weeks,
       |  (sxy - sx * sy / n) / (sxx - sx * sx / n) AS decay_slope,
       |  exp(sy / n - (sxy - sx * sy / n) / (sxx - sx * sx / n)
       |              * (sx / n)) AS r0_fit,
       |  CASE WHEN (sxy - sx * sy / n) / (sxx - sx * sx / n) < 0.0e0
       |       THEN -ln(2.0e0) / ((sxy - sx * sy / n)
       |                          / (sxx - sx * sx / n))
       |  END AS halflife_weeks
       |FROM m""".stripMargin

  def eventsRetentionHalflife(s: SparkSession, dir: String): DataFrame = {
    Tables.sql(s, dir, "WITH " + halflifeSql("events",
      ts => s"unix_timestamp($ts)"))
  }

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef.sql("agg_theil_decomposition",
      "WITH " + theilSql("orders")),
    QueryDef("events_retention_halflife", eventsRetentionHalflife,
      "WITH " + halflifeSql("events",
        ts => s"CAST(floor(epoch(CAST($ts AS TIMESTAMP))) AS BIGINT)")))
}
