package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables

/** Round-11 batch AM: distributional EDA and classic SPC.
  *
  *  - `agg_qq_two_sample` — the two-sample QQ table at the nine
  *    deciles (purchase vs click values): exact type-1 order
  *    statistics (k = ⌈p·n⌉) read off each group's distinct-value
  *    census by cumulative rank — no per-row global sort, ever.
  *  - `agg_xbar_r_chart` — the X̄-R control chart (the SPC twin of
  *    `agg_cpk`): fixed subgroups of the 5 md5-first orders per day,
  *    center lines and A₂/D₃/D₄ limits for n = 5, and the
  *    out-of-control day census. Subgroup means/ranges are exact
  *    decimal arithmetic; the chart constants ride e-notation
  *    literals.
  */
object Analytics58 {

  // ---------------------------------------------------------------------
  // agg_qq_two_sample
  // ---------------------------------------------------------------------

  private def qqSql(events: String): String =
    s"""e AS (SELECT CAST(value AS DECIMAL(18,2)) AS v,
       |        CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS a
       |      FROM $events
       |      WHERE event_type IN ('purchase', 'click')),
       |ca AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM e
       |       WHERE a = 1 GROUP BY v),
       |cb AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM e
       |       WHERE a = 0 GROUP BY v),
       |ra AS (SELECT v, CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT)
       |         AS cum, CAST(sum(cnt) OVER () AS BIGINT) AS n
       |       FROM ca),
       |rb AS (SELECT v, CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT)
       |         AS cum, CAST(sum(cnt) OVER () AS BIGINT) AS n
       |       FROM cb),
       |dq AS (SELECT CAST(d.d AS DOUBLE) / 1.0e1 AS p,
       |        (SELECT min(v) FROM ra
       |         WHERE cum >= ceil(CAST(d.d AS DOUBLE) / 1.0e1 * n))
       |          AS qa,
       |        (SELECT min(v) FROM rb
       |         WHERE cum >= ceil(CAST(d.d AS DOUBLE) / 1.0e1 * n))
       |          AS qb
       |      FROM dk d)
       |SELECT p, CAST(qa AS DOUBLE) AS q_purchase,
       |  CAST(qb AS DOUBLE) AS q_click,
       |  CASE WHEN qb <> 0 THEN CAST(qa AS DOUBLE) / CAST(qb AS DOUBLE)
       |  END AS qq_ratio
       |FROM dq""".stripMargin

  def aggQqTwoSample(s: SparkSession, dir: String): DataFrame = {
    Tables.sql(s, dir, "WITH dk AS (SELECT explode(sequence(1L, 9L)) AS d),\n" +
      qqSql("events"))
  }

  private val qqOracleSql: String =
    "WITH dk AS (SELECT CAST(unnest(generate_series(1, 9)) AS BIGINT)" +
      " AS d),\n" + qqSql("events")

  // ---------------------------------------------------------------------
  // agg_xbar_r_chart
  // ---------------------------------------------------------------------

  private def xbarSql(orders: String, dayIdx: String): String =
    s"""r AS (SELECT CAST($dayIdx AS BIGINT) AS day,
       |        CAST(o_totalprice AS DECIMAL(18,2)) AS p,
       |        row_number() OVER (PARTITION BY CAST($dayIdx AS BIGINT)
       |          ORDER BY md5(CAST(o_orderkey AS STRING)), o_orderkey)
       |          AS rk
       |      FROM $orders),
       |sg AS (SELECT day,
       |        CAST(sum(p) AS DOUBLE) / 5.0e0 AS xbar,
       |        CAST(max(p) - min(p) AS DOUBLE) AS rng
       |      FROM r WHERE rk <= 5
       |      GROUP BY day HAVING count(*) = 5),
       |cl AS (SELECT CAST(count(*) AS BIGINT) AS k,
       |        CAST(sum(CAST(xbar AS DECIMAL(38,6))) AS DOUBLE)
       |          / count(*) AS xbarbar,
       |        CAST(sum(CAST(rng AS DECIMAL(38,6))) AS DOUBLE)
       |          / count(*) AS rbar
       |      FROM sg)
       |SELECT cl.k AS n_subgroups, cl.xbarbar, cl.rbar,
       |  cl.xbarbar - 5.77e-1 * cl.rbar AS lcl_x,
       |  cl.xbarbar + 5.77e-1 * cl.rbar AS ucl_x,
       |  2.114e0 * cl.rbar AS ucl_r,
       |  CAST((SELECT count(*) FROM sg
       |        WHERE sg.xbar < cl.xbarbar - 5.77e-1 * cl.rbar
       |           OR sg.xbar > cl.xbarbar + 5.77e-1 * cl.rbar)
       |       AS BIGINT) AS n_ooc_xbar,
       |  CAST((SELECT count(*) FROM sg
       |        WHERE sg.rng > 2.114e0 * cl.rbar) AS BIGINT) AS n_ooc_r
       |FROM cl""".stripMargin

  def aggXbarRChart(s: SparkSession, dir: String): DataFrame = {
    Tables.sql(s, dir, "WITH " + xbarSql("orders",
      "datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01')"))
  }

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("agg_qq_two_sample", aggQqTwoSample, qqOracleSql),
    QueryDef("agg_xbar_r_chart", aggXbarRChart, "WITH " + xbarSql("orders",
      "datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))")))
}
