package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables
import graft.core.CkptTap._

/** Round-10 session-4 batch E: the Ichimoku technical system, tail
  * risk, distributional co-occurrence, and structural-break
  * detection.
  *
  *  - `win_ichimoku` — Ichimoku Kinkō Hyō (9/26/52): conversion/base
  *    lines, both cloud spans, and the lagging close.
  *  - `agg_var_es` — historical 95% value-at-risk (exact order
  *    statistic) and expected shortfall per user.
  *  - `llm_cooccurrence` — ±2-window word co-occurrence with PMI
  *    (the GloVe/word2vec distributional input), spelled as two
  *    position equi-joins — NEVER a per-document token cross join.
  *  - `agg_binseg_split` — binary-segmentation changepoint: the
  *    single split of the daily revenue series maximizing the SSE
  *    reduction, from exact decimal prefix sums.
  *
  * (`stream_tws_typecounts` — the MapState typed-handle — lives in
  * [[graft.streaming.StatefulOps]].)
  *
  * Determinism rules as in [[Analytics]] / [[Analytics12]].
  */
object Analytics16 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---------------------------------------------------------------------
  // win_ichimoku
  // ---------------------------------------------------------------------

  /** Ichimoku over the global tick series (ONE symbol in the fixture —
    * at scale the windows partition per symbol, same plan):
    * tenkan = 9-period midpoint, kijun = 26, senkō B source = 52,
    * both spans displaced 26 forward (spelled as lag-26 of the
    * source), chikō = close displaced 26 back (lead-26). Midpoints
    * only compare and halve — every column is bit-exact on both
    * engines. Rows before the 52-window fills or where a displaced
    * span is undefined are dropped. */
  private def ichimokuSql(events: String): String =
    s"""WITH o AS (SELECT event_id, ts, value,
       |        row_number() OVER (ORDER BY ts, event_id) AS rn
       |      FROM $events),
       |b AS (SELECT event_id, rn, value,
       |        (max(value) OVER (ORDER BY rn ROWS BETWEEN 8 PRECEDING AND CURRENT ROW)
       |         + min(value) OVER (ORDER BY rn ROWS BETWEEN 8 PRECEDING AND CURRENT ROW)) / 2 AS tenkan,
       |        (max(value) OVER (ORDER BY rn ROWS BETWEEN 25 PRECEDING AND CURRENT ROW)
       |         + min(value) OVER (ORDER BY rn ROWS BETWEEN 25 PRECEDING AND CURRENT ROW)) / 2 AS kijun,
       |        (max(value) OVER (ORDER BY rn ROWS BETWEEN 51 PRECEDING AND CURRENT ROW)
       |         + min(value) OVER (ORDER BY rn ROWS BETWEEN 51 PRECEDING AND CURRENT ROW)) / 2 AS sb0
       |      FROM o),
       |c AS (SELECT event_id, rn, value, tenkan, kijun,
       |        lag((tenkan + kijun) / 2, 26) OVER (ORDER BY rn) AS senkou_a,
       |        lag(sb0, 26) OVER (ORDER BY rn) AS senkou_b,
       |        lead(value, 26) OVER (ORDER BY rn) AS chikou
       |      FROM b)
       |SELECT event_id, value, tenkan, kijun, senkou_a, senkou_b, chikou
       |FROM c WHERE rn > 77 AND chikou IS NOT NULL""".stripMargin

  def winIchimoku(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events").createOrReplaceTempView("graft_ich_events")
    s.sql(ichimokuSql("graft_ich_events"))
  }

  // ---------------------------------------------------------------------
  // agg_var_es
  // ---------------------------------------------------------------------

  /** Historical 95% VaR and expected shortfall of the per-user P&L
    * (value − 50, the `win_sharpe` series). VaR is the k-th smallest
    * P&L with k = ⌈n/20⌉ — an EXACT order statistic under the
    * (pnl, event_id) total order, so the quantile itself is input
    * bits; ES averages the k-point tail (corr-family absorption).
    * k uses n/20.0, not n·0.05: 0.05 is binary-inexact and 20·0.05
    * ceils to 2 where n/20.0 is exactly 1. */
  private def varEsSql(events: String): String =
    s"""WITH p AS (SELECT user_id, value - 50.0 AS pnl, event_id
       |      FROM $events),
       |r AS (SELECT user_id, pnl,
       |        row_number() OVER (PARTITION BY user_id
       |          ORDER BY pnl, event_id) AS rn,
       |        count(*) OVER (PARTITION BY user_id) AS n
       |      FROM p),
       |k AS (SELECT user_id, n, CAST(ceil(n / 20.0) AS BIGINT) AS kk
       |      FROM r GROUP BY user_id, n HAVING n >= 20)
       |SELECT k.user_id, CAST(k.n AS BIGINT) AS n_events,
       |  min(CASE WHEN r.rn = k.kk THEN r.pnl END) AS var95,
       |  sum(CASE WHEN r.rn <= k.kk THEN r.pnl ELSE 0.0 END) / k.kk AS es95
       |FROM k JOIN r ON r.user_id = k.user_id
       |GROUP BY k.user_id, k.n, k.kk""".stripMargin

  def aggVarEs(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events").createOrReplaceTempView("graft_var_events")
    s.sql(varEsSql("graft_var_events"))
  }

  // ---------------------------------------------------------------------
  // llm_cooccurrence
  // ---------------------------------------------------------------------

  /** ±2-window co-occurrence counts with pointwise mutual
    * information. The pair relation is TWO position equi-joins
    * (pos+1, pos+2) unioned — linear in the corpus; the |doc|² token
    * cross join the naive window spelling implies never exists. PMI
    * inputs are exact integer ratios; pairs below support 5 are
    * dropped. */
  private def cooccurSql(tok: String): String =
    s"""WITH tok AS ($tok),
       |pr AS (
       |  SELECT a.w AS wa, b.w AS wb FROM tok a
       |    JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
       |  UNION ALL
       |  SELECT a.w, b.w FROM tok a
       |    JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 2),
       |pairs AS (SELECT least(wa, wb) AS w1, greatest(wa, wb) AS w2,
       |            count(*) AS cnt
       |          FROM pr GROUP BY 1, 2 HAVING count(*) >= 5),
       |uni AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
       |tot AS (SELECT count(*) AS nw FROM tok),
       |totp AS (SELECT sum(cnt) AS np FROM pairs)
       |SELECT p.w1, p.w2, CAST(p.cnt AS BIGINT) AS cnt,
       |  ln((CAST(p.cnt AS DOUBLE) / np)
       |     / ((CAST(u1.c AS DOUBLE) / nw) * (CAST(u2.c AS DOUBLE) / nw)))
       |    AS pmi
       |FROM pairs p
       |  JOIN uni u1 ON u1.w = p.w1 JOIN uni u2 ON u2.w = p.w2
       |  CROSS JOIN tot CROSS JOIN totp""".stripMargin

  def llmCooccurrence(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "documents").createOrReplaceTempView("graft_co_docs")
    s.sql(cooccurSql(
      """SELECT doc_id, pos + 1 AS pos, w FROM (
        |  SELECT doc_id, posexplode(split(text, ' ')) AS (pos, w)
        |  FROM graft_co_docs) WHERE w RLIKE '^[a-z]+$'""".stripMargin))
  }

  // ---------------------------------------------------------------------
  // agg_binseg_split
  // ---------------------------------------------------------------------

  /** Binary-segmentation changepoint: argmax over t of the SSE
    * reduction from splitting the whole-dollar daily revenue series
    * at t. Because Σx² cancels, the gain is L²/n_l + R²/n_r − T²/n
    * over exact DECIMAL(38,0) prefix sums — each candidate's gain is
    * a closed-form double on exact inputs, the argmax is a total
    * order (gain DESC, date), and nothing floating ever merges.
    * Scale: one aggregation to the daily grain, one cumulative
    * window over the calendar-bounded relation. */
  private def binsegSql(daily: String): String =
    s"""WITH pre AS (SELECT d, x,
       |        row_number() OVER (ORDER BY d) AS rn,
       |        CAST(sum(CAST(x AS DECIMAL(38,0))) OVER (ORDER BY d)
       |             AS DOUBLE) AS lsx
       |      FROM $daily),
       |t AS (SELECT count(*) AS n,
       |        CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS tsx
       |      FROM $daily),
       |gain AS (SELECT pre.d, pre.rn, t.n,
       |    lsx * lsx / rn + (tsx - lsx) * (tsx - lsx) / (n - rn)
       |      - tsx * tsx / n AS gain,
       |    lsx / rn AS mean_left, (tsx - lsx) / (n - rn) AS mean_right
       |  FROM pre CROSS JOIN t WHERE rn >= 2 AND rn <= n - 2)
       |SELECT d AS split_date, CAST(rn AS BIGINT) AS split_idx,
       |  CAST(n AS BIGINT) AS n_days, gain, mean_left, mean_right
       |FROM gain ORDER BY gain DESC, d LIMIT 1""".stripMargin

  private def binsegDailySql(orders: String): String =
    s"""SELECT CAST(o_orderdate AS DATE) AS d,
       |       CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))))
       |            AS DECIMAL(19,0)) AS x
       |FROM $orders GROUP BY 1""".stripMargin

  def aggBinsegSplit(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("graft_bs_orders")
    s.sql(binsegDailySql("graft_bs_orders"))
      .tappedLocalCheckpoint()
      .createOrReplaceTempView("graft_bs_daily")
    s.sql(binsegSql("graft_bs_daily"))
  }

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("win_ichimoku", winIchimoku, ichimokuSql("events")),
    QueryDef("agg_var_es", aggVarEs, varEsSql("events")),
    QueryDef("llm_cooccurrence", llmCooccurrence, cooccurSql(
      """SELECT doc_id, g AS pos, d.ts[g] AS w
        |FROM (SELECT doc_id, string_split(text, ' ') AS ts
        |      FROM documents) d,
        |  UNNEST(generate_series(1, len(d.ts))) AS t(g)
        |WHERE regexp_matches(d.ts[g], '^[a-z]+$')""".stripMargin)),
    QueryDef("agg_binseg_split", aggBinsegSplit,
      s"WITH daily AS (${binsegDailySql("orders")}),\n" +
        binsegSql("daily").replaceFirst("^WITH ", "")))
}
