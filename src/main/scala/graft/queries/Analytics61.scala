package graft.queries

import graft.QueryDef

/** Round-11 batch AP: repeated-measures tests over the user ×
  * event-type matrix — completing the nonparametric family
  * (MWU / KW / signed-rank / Friedman) and its binary twin.
  *
  *  - `agg_friedman` — Friedman's rank test on the complete-case
  *    score matrix of [[Analytics55.aggCronbachAlpha]]: mid-ranks
  *    WITHIN each user across the k = 5 items (exact halves), the
  *    tie-robust SS_t/SS_e spelling.
  *  - `agg_cochran_q` — Cochran's Q on the binary did-user-do-type
  *    matrix: Q = (k−1)(k·ΣCⱼ² − N²)/(k·ΣRᵢ − ΣRᵢ²) — every term an
  *    exact integer, so the statistic is a quotient of exact ints
  *    with zero floating surface before the final division.
  */
object Analytics61 {

  // ---------------------------------------------------------------------
  // agg_friedman
  // ---------------------------------------------------------------------

  private def friedmanSql(events: String): String =
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
       |rk AS (SELECT user_id, event_type,
       |        CAST(2 * rank() OVER (PARTITION BY user_id
       |               ORDER BY score)
       |             + count(*) OVER (PARTITION BY user_id, score)
       |             - 1 AS DOUBLE) / 2.0 AS r
       |      FROM mtx),
       |dims AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n,
       |          CAST(count(DISTINCT event_type) AS BIGINT) AS k
       |        FROM rk),
       |colm AS (SELECT event_type,
       |        sum(r) AS rsum, CAST(count(*) AS BIGINT) AS n
       |      FROM rk GROUP BY event_type),
       |sst AS (SELECT CAST(sum(CAST(
       |          (colm.rsum / colm.n - (dims.k + 1) / 2.0e0)
       |          * (colm.rsum / colm.n - (dims.k + 1) / 2.0e0)
       |          AS DECIMAL(38,18))) AS DOUBLE)
       |          * max(dims.n) AS v
       |      FROM colm CROSS JOIN dims),
       |sse AS (SELECT CAST(sum(CAST(
       |          (rk.r - (dims.k + 1) / 2.0e0)
       |          * (rk.r - (dims.k + 1) / 2.0e0)
       |          AS DECIMAL(38,18))) AS DOUBLE)
       |          / (CAST(max(dims.n) AS DOUBLE) * (max(dims.k) - 1))
       |          AS v
       |      FROM rk CROSS JOIN dims)
       |SELECT dims.n AS n_subjects, dims.k AS n_items,
       |  dims.k - 1 AS dof,
       |  sst.v / sse.v AS friedman_chi2
       |FROM dims CROSS JOIN sst CROSS JOIN sse""".stripMargin

  // ---------------------------------------------------------------------
  // agg_cochran_q
  // ---------------------------------------------------------------------

  private def cochranSql(events: String): String =
    s"""au AS (SELECT DISTINCT user_id FROM $events),
       |ty AS (SELECT DISTINCT event_type FROM $events),
       |x AS (SELECT a.user_id, t.event_type,
       |        CASE WHEN e.user_id IS NOT NULL THEN 1 ELSE 0 END AS v
       |      FROM au a CROSS JOIN ty t
       |      LEFT JOIN (SELECT DISTINCT user_id, event_type
       |                 FROM $events) e
       |        ON e.user_id = a.user_id AND e.event_type = t.event_type),
       |rows_ AS (SELECT user_id, CAST(sum(v) AS BIGINT) AS ri
       |      FROM x GROUP BY user_id),
       |cols_ AS (SELECT event_type, CAST(sum(v) AS BIGINT) AS cj
       |      FROM x GROUP BY event_type),
       |s AS (SELECT
       |        (SELECT CAST(count(*) AS BIGINT) FROM cols_) AS k,
       |        (SELECT CAST(sum(cj) AS BIGINT) FROM cols_) AS n,
       |        (SELECT CAST(sum(cj * cj) AS BIGINT) FROM cols_) AS scc,
       |        (SELECT CAST(sum(ri) AS BIGINT) FROM rows_) AS sr,
       |        (SELECT CAST(sum(ri * ri) AS BIGINT) FROM rows_) AS srr)
       |SELECT k AS n_items, n AS n_positive,
       |  CAST((k - 1) * (k * scc - n * n) AS DOUBLE)
       |    / CAST(k * sr - srr AS DOUBLE) AS cochran_q,
       |  k - 1 AS dof
       |FROM s""".stripMargin

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef.sql("agg_friedman", "WITH " + friedmanSql("events")),
    QueryDef.sql("agg_cochran_q", "WITH " + cochranSql("events")))
}
