package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables

/** Round-10 session-4 batch G: pretraining masking, market
  * concentration, and pivot levels.
  *
  *  - `llm_span_corruption` — T5-style span-corruption statistics:
  *    deterministic ~15% token masking from the md5 lattice,
  *    contiguous masked runs as spans (gaps-and-islands), per-doc
  *    mask/span censuses — the preprocessing audit run before
  *    seq2seq pretraining.
  *  - `agg_hhi` — Herfindahl-Hirschman revenue-concentration index
  *    per order year across priorities.
  *  - `win_pivot_points` — classic floor-trader pivots (P, R1/S1,
  *    R2/S2) from each user's PREVIOUS day's OHLC bar.
  *
  * Determinism rules as in [[Analytics]] / [[Analytics12]].
  */
object Analytics18 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---------------------------------------------------------------------
  // llm_span_corruption
  // ---------------------------------------------------------------------

  /** Mask decision per (doc, pos): first 16 md5 bits < ⌊0.15·65536⌋ =
    * 9830 — the same deterministic-lattice Bernoulli the bootstrap
    * and DP queries draw from, identical on both engines. Masked runs
    * collapse to spans via pos − row_number(); the output is the
    * per-doc corruption audit (token/mask/span counts, mean span
    * length as an int/int ratio). One tokenize pass, windows keyed
    * per doc. */
  private def spanCorruptionSql(tok: String): String =
    s"""WITH tok AS ($tok),
       |m AS (SELECT doc_id, pos,
       |        CASE WHEN
       |          ((instr('0123456789abcdef', substr(md5(CAST(doc_id AS STRING) || ':' || CAST(pos AS STRING)), 1, 1)) - 1) * 4096
       |         + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS STRING) || ':' || CAST(pos AS STRING)), 2, 1)) - 1) * 256
       |         + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS STRING) || ':' || CAST(pos AS STRING)), 3, 1)) - 1) * 16
       |         + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS STRING) || ':' || CAST(pos AS STRING)), 4, 1)) - 1)) < 9830
       |        THEN 1 ELSE 0 END AS masked
       |      FROM tok),
       |mk AS (SELECT doc_id, pos,
       |         pos - row_number() OVER (PARTITION BY doc_id
       |           ORDER BY pos) AS grp
       |       FROM m WHERE masked = 1),
       |spans AS (SELECT doc_id, grp, count(*) AS span_len
       |          FROM mk GROUP BY 1, 2),
       |agg_m AS (SELECT doc_id, count(*) AS n_tokens,
       |            sum(masked) AS n_masked
       |          FROM m GROUP BY doc_id),
       |agg_s AS (SELECT doc_id, count(*) AS n_spans,
       |            sum(span_len) AS sl FROM spans GROUP BY doc_id)
       |SELECT a.doc_id, CAST(a.n_tokens AS BIGINT) AS n_tokens,
       |  CAST(a.n_masked AS BIGINT) AS n_masked,
       |  CAST(coalesce(s.n_spans, 0) AS BIGINT) AS n_spans,
       |  CAST(a.n_masked AS DOUBLE) / a.n_tokens AS mask_frac,
       |  CASE WHEN s.n_spans > 0
       |       THEN CAST(s.sl AS DOUBLE) / s.n_spans END AS mean_span_len
       |FROM agg_m a LEFT JOIN agg_s s ON s.doc_id = a.doc_id""".stripMargin

  def llmSpanCorruption(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "documents").createOrReplaceTempView("graft_sc_docs")
    s.sql(spanCorruptionSql(
      """SELECT doc_id, pos + 1 AS pos FROM (
        |  SELECT doc_id, posexplode(split(text, ' ')) AS (pos, w)
        |  FROM graft_sc_docs)""".stripMargin))
  }

  // ---------------------------------------------------------------------
  // agg_hhi
  // ---------------------------------------------------------------------

  /** HHI per order year: Σᵢ (100·sᵢ)² over the five priorities'
    * revenue shares — the antitrust-style concentration scalar.
    * Revenue rides DECIMAL; the five share squares sum in double
    * (absorbed). A uniform 5-way split floors at 2000. */
  private def hhiSql(orders: String): String =
    s"""WITH r AS (SELECT year(o_orderdate) AS yr, o_orderpriority AS p,
       |        sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
       |      FROM $orders GROUP BY 1, 2),
       |tot AS (SELECT yr, sum(rev) AS trev FROM r GROUP BY yr)
       |SELECT CAST(r.yr AS INT) AS year,
       |  CAST(count(*) AS BIGINT) AS n_priorities,
       |  sum(power(100.0 * CAST(r.rev AS DOUBLE) / CAST(t.trev AS DOUBLE), 2))
       |    AS hhi
       |FROM r JOIN tot t ON t.yr = r.yr
       |GROUP BY r.yr""".stripMargin

  def aggHhi(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("graft_hhi_orders")
    s.sql(hhiSql("graft_hhi_orders"))
  }

  // ---------------------------------------------------------------------
  // win_pivot_points
  // ---------------------------------------------------------------------

  /** Floor-trader pivots from the previous day's bar: P = (H+L+C)/3,
    * R1 = 2P − L, S1 = 2P − H, R2 = P + (H − L), S2 = P − (H − L).
    * Bars are the `agg_vol_estimators` user-day OHLC ((ts, event_id)
    * total order); the previous bar arrives by lag over the per-user
    * day order. Fixed-shape double arithmetic on identical inputs —
    * deterministic without any decimal pinning. */
  private def pivotSql(events: String): String =
    s"""WITH tk AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d,
       |              ts, event_id, value
       |            FROM $events WHERE value >= 1.0),
       |fb AS (SELECT user_id, d, value,
       |         last_value(value) OVER (PARTITION BY user_id, d
       |           ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING
       |           AND UNBOUNDED FOLLOWING) AS c
       |       FROM tk),
       |bars AS (SELECT user_id, d, max(value) AS h, min(value) AS l,
       |           min(c) AS c
       |         FROM fb GROUP BY user_id, d),
       |pv AS (SELECT user_id, d,
       |         lag(h) OVER (PARTITION BY user_id ORDER BY d) AS ph,
       |         lag(l) OVER (PARTITION BY user_id ORDER BY d) AS pl,
       |         lag(c) OVER (PARTITION BY user_id ORDER BY d) AS pc
       |       FROM bars)
       |SELECT user_id, d, (ph + pl + pc) / 3 AS pivot,
       |  2 * ((ph + pl + pc) / 3) - pl AS r1,
       |  2 * ((ph + pl + pc) / 3) - ph AS s1,
       |  (ph + pl + pc) / 3 + (ph - pl) AS r2,
       |  (ph + pl + pc) / 3 - (ph - pl) AS s2
       |FROM pv WHERE ph IS NOT NULL""".stripMargin

  def winPivotPoints(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events").createOrReplaceTempView("graft_pp_events")
    s.sql(pivotSql("graft_pp_events"))
  }

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("llm_span_corruption", llmSpanCorruption, spanCorruptionSql(
      """SELECT doc_id, g AS pos
        |FROM (SELECT doc_id, string_split(text, ' ') AS ts
        |      FROM documents) d,
        |  UNNEST(generate_series(1, len(d.ts))) AS t(g)""".stripMargin)),
    QueryDef("agg_hhi", aggHhi, hhiSql("orders")),
    QueryDef("win_pivot_points", winPivotPoints, pivotSql("events")))
}
