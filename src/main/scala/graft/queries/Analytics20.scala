package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables

/** Round-10 session-4 batch I: classifier evaluation, bi-temporal
  * reconstruction, and proportion testing.
  *
  *  - `llm_langid_eval` — confusion matrix + per-class
  *    precision/recall/F1 of the `text_langid` heuristic against the
  *    corpus labels: the model-evaluation census every classifier in
  *    a data pipeline needs next to its predictions.
  *  - `etl_bitemporal` — bi-temporal as-of reconstruction: rows carry
  *    BOTH a valid-time and a transaction-time interval (late price
  *    corrections recorded 30 days after the fact), and the query
  *    answers "what did the table say on tx-date T about valid-date
  *    V" — the audit semantics `etl_scd2` (valid time only) cannot
  *    express.
  *  - `agg_two_proportion` — two-proportion z-test of purchase
  *    conversion between the even/odd user cohorts.
  *
  * Determinism rules as in [[Analytics]] / [[Analytics12]].
  */
object Analytics20 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---------------------------------------------------------------------
  // llm_langid_eval
  // ---------------------------------------------------------------------

  /** Confusion cells (labeled × predicted) plus per-cell contribution
    * to the predicted-class precision and labeled-class recall — all
    * integer censuses with int/int ratio columns; the F1 is the
    * harmonic mean of exact ratios. Prediction text is THE
    * `text_langid` rule (same marker lists, same tie order), so a
    * drift between the two queries breaks the oracle, not just the
    * spec. */
  private def langidEvalSql(pred: String): String =
    s"""WITH p AS ($pred),
       |cells AS (SELECT labeled_lang, pred_lang, count(*) AS n
       |          FROM p GROUP BY 1, 2),
       |pc AS (SELECT pred_lang, sum(n) AS n_pred FROM cells GROUP BY 1),
       |lc AS (SELECT labeled_lang, sum(n) AS n_label FROM cells GROUP BY 1)
       |SELECT c.labeled_lang, c.pred_lang, CAST(c.n AS BIGINT) AS n,
       |  CAST(c.n AS DOUBLE) / pc.n_pred AS cell_precision,
       |  CAST(c.n AS DOUBLE) / lc.n_label AS cell_recall,
       |  2.0 * (CAST(c.n AS DOUBLE) / pc.n_pred)
       |      * (CAST(c.n AS DOUBLE) / lc.n_label)
       |    / ((CAST(c.n AS DOUBLE) / pc.n_pred)
       |       + (CAST(c.n AS DOUBLE) / lc.n_label)) AS cell_f1
       |FROM cells c
       |  JOIN pc ON pc.pred_lang = c.pred_lang
       |  JOIN lc ON lc.labeled_lang = c.labeled_lang""".stripMargin

  def llmLangidEval(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "documents").createOrReplaceTempView("graft_le_docs")
    def inList(xs: Seq[String]) = xs.map("'" + _ + "'").mkString(", ")
    val pred =
      s"""SELECT lang AS labeled_lang,
         |  CASE WHEN en_hits + es_hits + de_hits = 0 THEN 'und'
         |       WHEN en_hits >= es_hits AND en_hits >= de_hits THEN 'en'
         |       WHEN es_hits >= de_hits THEN 'es'
         |       ELSE 'de' END AS pred_lang
         |FROM (SELECT lang,
         |  size(filter(split(text, ' '), x -> x IN (${inList(LlmText.enMarkers)}))) AS en_hits,
         |  size(filter(split(text, ' '), x -> x IN (${inList(LlmText.esMarkers)}))) AS es_hits,
         |  size(filter(split(text, ' '), x -> x IN (${inList(LlmText.deMarkers)}))) AS de_hits
         |  FROM graft_le_docs)""".stripMargin
    s.sql(langidEvalSql(pred))
  }

  private def langidEvalOracle: String = {
    def inList(xs: Seq[String]) = xs.map("'" + _ + "'").mkString(", ")
    val pred =
      s"""SELECT lang AS labeled_lang,
         |  CASE WHEN en_hits + es_hits + de_hits = 0 THEN 'und'
         |       WHEN en_hits >= es_hits AND en_hits >= de_hits THEN 'en'
         |       WHEN es_hits >= de_hits THEN 'es'
         |       ELSE 'de' END AS pred_lang
         |FROM (SELECT lang,
         |  len(list_filter(string_split(text, ' '), x -> x IN (${inList(LlmText.enMarkers)}))) AS en_hits,
         |  len(list_filter(string_split(text, ' '), x -> x IN (${inList(LlmText.esMarkers)}))) AS es_hits,
         |  len(list_filter(string_split(text, ' '), x -> x IN (${inList(LlmText.deMarkers)}))) AS de_hits
         |  FROM documents) h""".stripMargin
    langidEvalSql(pred)
  }

  // ---------------------------------------------------------------------
  // etl_bitemporal
  // ---------------------------------------------------------------------

  /** Bi-temporal reconstruction. Version 1 of every order is known
    * from its order date; on TRANSACTION DATE 1997-01-01 a batch
    * restatement lands +10.00 corrections for every key % 3 = 0 order
    * (valid retroactively from the order date — the realistic "a
    * reprocessing job restated history" shape). Three as-of probes
    * (tx-time T, valid-time V): (a) what the table said the day
    * BEFORE the restatement, (b) after it, about the same valid date,
    * (c) after it, about an earlier valid date. The pair-of-intervals
    * filter is the entire operator; all prices exact DECIMAL. */
  private def bitemporalSql(orders: String): String =
    s"""WITH v1 AS (SELECT o_orderkey AS k,
       |        CAST(o_totalprice AS DECIMAL(18,2)) AS price,
       |        CAST(o_orderdate AS DATE) AS valid_from,
       |        CAST(o_orderdate AS DATE) AS tx_from,
       |        CASE WHEN o_orderkey % 3 = 0 THEN DATE '1997-01-01'
       |             ELSE NULL END AS tx_to
       |      FROM $orders),
       |v2 AS (SELECT o_orderkey AS k,
       |        CAST(CAST(o_totalprice AS DECIMAL(18,2))
       |             + CAST(10.00 AS DECIMAL(18,2)) AS DECIMAL(18,2)) AS price,
       |        CAST(o_orderdate AS DATE) AS valid_from,
       |        DATE '1997-01-01' AS tx_from,
       |        CAST(NULL AS DATE) AS tx_to
       |      FROM $orders WHERE o_orderkey % 3 = 0),
       |vers AS (SELECT k, price, valid_from, tx_from, tx_to FROM v1
       |         UNION ALL
       |         SELECT k, price, valid_from, tx_from, tx_to FROM v2),
       |probes AS (SELECT DATE '1996-12-31' AS tx_at, DATE '1996-06-30' AS valid_at,
       |             'before_correction' AS probe
       |           UNION ALL
       |           SELECT DATE '1997-01-02', DATE '1996-06-30', 'after_correction'
       |           UNION ALL
       |           SELECT DATE '1997-01-02', DATE '1995-06-30', 'early_valid'),
       |visible AS (SELECT p.probe, v.k, v.price
       |            FROM vers v JOIN probes p
       |              ON v.tx_from <= p.tx_at
       |             AND (v.tx_to IS NULL OR p.tx_at < v.tx_to)
       |             AND v.valid_from <= p.valid_at)
       |SELECT probe, CAST(count(*) AS BIGINT) AS n_visible,
       |  CAST(sum(price) AS DOUBLE) AS total_price
       |FROM visible GROUP BY probe""".stripMargin

  def etlBitemporal(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("graft_bt_orders")
    s.sql(bitemporalSql("graft_bt_orders"))
  }

  // ---------------------------------------------------------------------
  // agg_two_proportion
  // ---------------------------------------------------------------------

  /** Two-proportion z-test of EARLY purchase conversion (a purchase
    * within the user's first five events — plain any-purchase
    * saturates to 1.0 on active fixtures and degenerates the pooled
    * variance), even vs odd user cohorts: p̂ᵢ from integer censuses,
    * the pooled z from closed-form double arithmetic. */
  private def twoPropSql(events: String): String =
    s"""WITH r AS (SELECT user_id, event_type,
       |        row_number() OVER (PARTITION BY user_id
       |          ORDER BY ts, event_id) AS rn
       |      FROM $events),
       |u AS (SELECT user_id, user_id % 2 AS cohort,
       |        max(CASE WHEN event_type = 'purchase' AND rn <= 5
       |                 THEN 1 ELSE 0 END) AS converted
       |      FROM r GROUP BY user_id),
       |g AS (SELECT cohort, count(*) AS n, sum(converted) AS conv
       |      FROM u GROUP BY cohort),
       |w AS (SELECT max(CASE WHEN cohort = 0 THEN n END) AS n1,
       |        max(CASE WHEN cohort = 0 THEN conv END) AS c1,
       |        max(CASE WHEN cohort = 1 THEN n END) AS n2,
       |        max(CASE WHEN cohort = 1 THEN conv END) AS c2
       |      FROM g HAVING count(*) = 2)
       |SELECT CAST(n1 AS BIGINT) AS n_even, CAST(c1 AS BIGINT) AS conv_even,
       |  CAST(n2 AS BIGINT) AS n_odd, CAST(c2 AS BIGINT) AS conv_odd,
       |  CAST(c1 AS DOUBLE) / n1 - CAST(c2 AS DOUBLE) / n2 AS prop_diff,
       |  CASE WHEN (c1 + c2) > 0 AND (c1 + c2) < (n1 + n2) THEN
       |    (CAST(c1 AS DOUBLE) / n1 - CAST(c2 AS DOUBLE) / n2)
       |      / sqrt((CAST(c1 + c2 AS DOUBLE) / (n1 + n2))
       |             * (1.0 - CAST(c1 + c2 AS DOUBLE) / (n1 + n2))
       |             * (1.0 / n1 + 1.0 / n2))
       |  END AS z
       |FROM w""".stripMargin

  def aggTwoProportion(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events").createOrReplaceTempView("graft_tp_events")
    s.sql(twoPropSql("graft_tp_events"))
  }

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("llm_langid_eval", llmLangidEval, langidEvalOracle),
    QueryDef("etl_bitemporal", etlBitemporal, bitemporalSql("orders")),
    QueryDef("agg_two_proportion", aggTwoProportion, twoPropSql("events")))
}
