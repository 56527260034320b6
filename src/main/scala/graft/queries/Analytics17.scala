package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables
import graft.core.CkptTap._

/** Round-10 session-4 batch F: nonparametric trend, operational
  * freshness, and contrastive mining.
  *
  *  - `agg_mann_kendall` — Mann-Kendall trend test of daily revenue
  *    (exact integer S over the calendar-bounded pair half-plane,
  *    tie-corrected variance, the continuity-corrected Z).
  *  - `etl_freshness_sla` — per-source data-freshness audit: lag of
  *    each event type's newest record behind the corpus watermark,
  *    with the SLA breach flag — the first query any warehouse
  *    on-call runs.
  *  - `llm_hard_negatives` — contrastive hard-negative mining over
  *    the [[Analytics14]] ROUGE base: per eval doc, the top-3
  *    training docs with HIGH unigram recall but LOW bigram recall —
  *    lexically close, structurally different, the negatives that
  *    actually teach a retriever.
  *
  * Determinism rules as in [[Analytics]] / [[Analytics12]].
  */
object Analytics17 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---------------------------------------------------------------------
  // agg_mann_kendall
  // ---------------------------------------------------------------------

  /** Mann-Kendall: S = Σ_{i<j} sign(x_j − x_i) over whole-dollar
    * daily revenue — an exact integer census on the O(days²)
    * calendar-bounded pair relation (`agg_theil_sen` precedent) —
    * with the tie-corrected variance and continuity-corrected Z.
    * Only the final Z is floating, from exact integer inputs. */
  private def mkRestSql(daily: String): String =
    s"""WITH p AS (SELECT a.x AS x1, b.x AS x2
       |      FROM $daily a JOIN $daily b ON a.d < b.d),
       |s AS (SELECT count(*) AS n0,
       |        sum(CASE WHEN x2 > x1 THEN 1
       |                 WHEN x2 < x1 THEN -1 ELSE 0 END) AS sk
       |      FROM p HAVING count(*) > 0),
       |nn AS (SELECT count(*) AS n FROM $daily),
       |ties AS (SELECT x, count(*) AS tj FROM $daily
       |         GROUP BY x HAVING count(*) > 1),
       |tv AS (SELECT coalesce(sum(tj * (tj - 1) * (2 * tj + 5)), 0)
       |         AS tcorr FROM ties),
       |v AS (SELECT (CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5)
       |              - tcorr) / 18.0 AS var_s, n
       |      FROM nn CROSS JOIN tv)
       |SELECT CAST(v.n AS BIGINT) AS n_days, CAST(s.sk AS BIGINT) AS s_stat,
       |  v.var_s,
       |  CASE WHEN s.sk > 0 THEN (s.sk - 1) / sqrt(v.var_s)
       |       WHEN s.sk < 0 THEN (s.sk + 1) / sqrt(v.var_s)
       |       ELSE 0.0 END AS z
       |FROM s CROSS JOIN v""".stripMargin

  private def mkDailySql(orders: String): String =
    s"""SELECT CAST(o_orderdate AS DATE) AS d,
       |       CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))))
       |            AS BIGINT) AS x
       |FROM $orders GROUP BY 1""".stripMargin

  def aggMannKendall(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("graft_mk_orders")
    s.sql(mkDailySql("graft_mk_orders"))
      .tappedLocalCheckpoint()
      .createOrReplaceTempView("graft_mk_daily")
    s.sql(mkRestSql("graft_mk_daily"))
  }

  // ---------------------------------------------------------------------
  // etl_freshness_sla
  // ---------------------------------------------------------------------

  /** Freshness audit: each event type's newest record vs the corpus
    * watermark, lag in whole hours (truncate-then-subtract on epoch
    * seconds, the `agg_kaplan_meier` integer-duration rule), SLA flag
    * at 24 h. One bounded-key census; `epochDiff` is the dialect
    * split. */
  private def freshnessSql(events: String, epochDiffHours: String): String =
    s"""WITH src AS (SELECT event_type, max(ts) AS max_ts,
       |        count(*) AS n FROM $events GROUP BY 1),
       |g AS (SELECT max(max_ts) AS gmax FROM src)
       |SELECT s.event_type, CAST(s.n AS BIGINT) AS n_events, s.max_ts,
       |  CAST($epochDiffHours AS BIGINT) AS lag_hours,
       |  $epochDiffHours <= 24 AS within_sla
       |FROM src s CROSS JOIN g""".stripMargin

  def etlFreshnessSla(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events").createOrReplaceTempView("graft_fr_events")
    s.sql(freshnessSql("graft_fr_events",
      "(unix_timestamp(g.gmax) - unix_timestamp(s.max_ts)) DIV 3600"))
  }

  // ---------------------------------------------------------------------
  // llm_hard_negatives
  // ---------------------------------------------------------------------

  /** Hard-negative mining on the shared ROUGE overlap base: per eval
    * doc, candidates with unigram recall ≥ 0.5 but bigram recall
    * < 0.3, ranked (r1 DESC, r2 ASC, doc_id). The recalls are exact
    * integer ratios, so the ordering never hinges on a ulp. Same
    * scale shape as decontamination: broadcast eval side, per-n-gram
    * equi-joins. */
  private def hardNegSql(ctes: String): String =
    s"""WITH $ctes,
       |sc AS (SELECT o1.doc_id, o1.eid,
       |         CAST(o1.o AS DOUBLE) / n1.sz AS r1,
       |         coalesce(CAST(o2.o AS DOUBLE) / n2.sz, 0.0) AS r2
       |       FROM o1
       |         JOIN n1 ON n1.eid = o1.eid
       |         LEFT JOIN o2 ON o2.doc_id = o1.doc_id AND o2.eid = o1.eid
       |         JOIN n2 ON n2.eid = o1.eid),
       |cand AS (SELECT sc.doc_id, sc.eid, sc.r1, sc.r2 FROM sc
       |         WHERE sc.r1 >= 0.5 AND sc.r2 < 0.3
       |           AND NOT EXISTS (SELECT 1 FROM ev
       |                           WHERE ev.doc_id = sc.doc_id)),
       |rk AS (SELECT eid, doc_id, r1, r2,
       |         row_number() OVER (PARTITION BY eid
       |           ORDER BY r1 DESC, r2 ASC, doc_id) AS rk
       |       FROM cand)
       |SELECT eid AS eval_doc_id, CAST(rk AS INT) AS rk,
       |  doc_id AS neg_doc_id, r1 AS rouge1, r2 AS rouge2
       |FROM rk WHERE rk <= 3""".stripMargin

  def llmHardNegatives(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "documents").createOrReplaceTempView("documents2")
    // staged rouge bases (see Analytics14.stageRougeBases): the
    // corpus-wide u1/b1 distinct-n-gram relations are checkpointed
    // once instead of re-tokenizing the corpus per CTE reference
    s.sql(hardNegSql(Analytics14.stageRougeBases(s)))
  }

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("agg_mann_kendall", aggMannKendall,
      s"WITH daily AS (${mkDailySql("orders")}),\n" +
        mkRestSql("daily").replaceFirst("^WITH ", "")),
    QueryDef("etl_freshness_sla", etlFreshnessSla, freshnessSql("events",
      "date_diff('second', s.max_ts, g.gmax) // 3600")),
    QueryDef("llm_hard_negatives", llmHardNegatives,
      s"WITH documents2 AS (SELECT * FROM documents),\n" +
        hardNegSql(Analytics14.rougeCtes(
            Analytics14.rougeDuckUni, Analytics14.rougeDuckBi))
          .replaceFirst("^WITH ", "")))
}
