package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables

/** Round-11 batch AJ: measurement-reliability statistics over the
  * user × event-type value matrix.
  *
  *  - `agg_cronbach_alpha` — internal-consistency reliability of the
  *    five event-type "items": per-user item score = mean value for
  *    that type (complete cases only), α = k/(k−1)·(1 − Σσᵢ²/σ_T²).
  *    Item scores are exact-decimal-sum / integer-count rationals
  *    (bit-identical cross-engine); the user-level variance moments
  *    are DECIMAL-pinned.
  *  - `agg_icc` — ICC(1,1) by one-way ANOVA with users as groups over
  *    raw event values, with the unbalanced-design n₀ adjustment.
  *    MSB/MSW come entirely from exact decimal sums (values are
  *    2-decimal rationals).
  */
object Analytics55 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---------------------------------------------------------------------
  // agg_cronbach_alpha
  // ---------------------------------------------------------------------

  private def cronbachSql(events: String): String =
    s"""sc AS (SELECT user_id, event_type,
       |        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
       |          / count(*) AS score
       |      FROM $events GROUP BY user_id, event_type),
       |k AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k
       |      FROM sc),
       |cc AS (SELECT sc.user_id FROM sc CROSS JOIN k
       |      GROUP BY sc.user_id, k.k HAVING count(*) = max(k.k)),
       |mtx AS (SELECT sc.user_id, sc.event_type, sc.score
       |      FROM sc JOIN cc ON cc.user_id = sc.user_id),
       |iv AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |        (CAST(sum(CAST(score * score AS DECIMAL(38,6)))
       |              AS DOUBLE)
       |         - CAST(sum(CAST(score AS DECIMAL(38,6))) AS DOUBLE)
       |           * CAST(sum(CAST(score AS DECIMAL(38,6))) AS DOUBLE)
       |           / count(*)) / (count(*) - 1) AS v
       |      FROM mtx GROUP BY event_type),
       |ts AS (SELECT user_id,
       |        CAST(sum(CAST(score AS DECIMAL(38,6))) AS DOUBLE) AS tot
       |      FROM mtx GROUP BY user_id),
       |tv AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |        (CAST(sum(CAST(tot * tot AS DECIMAL(38,6))) AS DOUBLE)
       |         - CAST(sum(CAST(tot AS DECIMAL(38,6))) AS DOUBLE)
       |           * CAST(sum(CAST(tot AS DECIMAL(38,6))) AS DOUBLE)
       |           / count(*)) / (count(*) - 1) AS v
       |      FROM ts),
       |agg AS (SELECT CAST(count(*) AS BIGINT) AS k,
       |        CAST(sum(CAST(v AS DECIMAL(38,18))) AS DOUBLE) AS sv
       |      FROM iv)
       |SELECT agg.k AS n_items, tv.n AS n_subjects,
       |  agg.sv AS sum_item_var, tv.v AS total_var,
       |  (CAST(agg.k AS DOUBLE) / (agg.k - 1))
       |    * (1.0e0 - agg.sv / tv.v) AS cronbach_alpha
       |FROM agg CROSS JOIN tv""".stripMargin

  def aggCronbachAlpha(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events").createOrReplaceTempView("graft_ca_events")
    s.sql("WITH " + cronbachSql("graft_ca_events"))
  }

  // ---------------------------------------------------------------------
  // agg_icc
  // ---------------------------------------------------------------------

  private def iccSql(events: String): String =
    s"""v AS (SELECT user_id,
       |        CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS x
       |      FROM $events),
       |g AS (SELECT user_id, CAST(count(*) AS BIGINT) AS ni,
       |        CAST(sum(CAST(x AS DECIMAL(38,2))) AS DOUBLE) AS si,
       |        CAST(sum(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sii
       |      FROM v GROUP BY user_id),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS i,
       |        CAST(sum(ni) AS BIGINT) AS n,
       |        CAST(sum(CAST(si AS DECIMAL(38,6))) AS DOUBLE) AS s,
       |        CAST(sum(CAST(sii AS DECIMAL(38,6))) AS DOUBLE) AS ss,
       |        CAST(sum(CAST(si * si / ni AS DECIMAL(38,6)))
       |             AS DOUBLE) AS sgm,
       |        CAST(sum(ni * ni) AS BIGINT) AS sn2
       |      FROM g)
       |SELECT i AS n_groups, n AS n_obs,
       |  (sgm - s * s / n) / (i - 1) AS msb,
       |  (ss - sgm) / (n - i) AS msw,
       |  (CAST(n AS DOUBLE) - CAST(sn2 AS DOUBLE) / n) / (i - 1) AS n0,
       |  ((sgm - s * s / n) / (i - 1) - (ss - sgm) / (n - i))
       |    / ((sgm - s * s / n) / (i - 1)
       |       + ((CAST(n AS DOUBLE) - CAST(sn2 AS DOUBLE) / n) / (i - 1)
       |          - 1.0e0) * ((ss - sgm) / (n - i))) AS icc1
       |FROM tot""".stripMargin

  def aggIcc(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events").createOrReplaceTempView("graft_icc_events")
    s.sql("WITH " + iccSql("graft_icc_events"))
  }

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("agg_cronbach_alpha", aggCronbachAlpha,
      "WITH " + cronbachSql("events")),
    QueryDef("agg_icc", aggIcc, "WITH " + iccSql("events")))
}
