package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables

/** Round-11 batch I: causal-inference and corpus-composition tail.
  *
  *  - `events_did` — difference-in-differences point estimate of the
  *    event-value shift: treatment = odd-user cohort, post = second
  *    half of the time range, all four cell means from exact decimal
  *    sums.
  *  - `text_code_detect` — code-vs-prose detection per document
  *    (symbol/digit densities + brace-line share), the corpus-
  *    composition gate real curation pipelines run before mixing
  *    code and prose corpora.
  *
  * Determinism rules as in [[Analytics]] (integer censuses, decimal
  * sums, int-ratio doubles emitted raw).
  */
object Analytics29 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---------------------------------------------------------------------
  // events_did
  // ---------------------------------------------------------------------

  /** DID = (ȳ_treat,post − ȳ_treat,pre) − (ȳ_ctrl,post − ȳ_ctrl,pre).
    * The period split is the integer midpoint of the microsecond
    * range (engine-neutral integer arithmetic); cohort = user parity
    * (the `agg_randomization_test` convention). Cell means are exact
    * DECIMAL sums divided once; the estimate combines four such
    * doubles in one closed-form expression. One pass + a broadcast
    * midpoint. */
  private def didSql(events: String, epochUs: String => String,
      intdiv: String): String =
    s"""e AS (SELECT user_id % 2 AS treat, ${epochUs("ts")} AS us,
       |        CAST(value AS DECIMAL(18,4)) AS v
       |      FROM $events),
       |mid AS (SELECT (MIN(us) + MAX(us)) $intdiv 2 AS m FROM e),
       |cells AS (SELECT e.treat, CASE WHEN e.us >= mid.m THEN 1 ELSE 0 END
       |            AS post,
       |          COUNT(*) AS n,
       |          CAST(SUM(e.v) AS DOUBLE) / COUNT(*) AS mean_v
       |        FROM e CROSS JOIN mid GROUP BY 1, 2),
       |p AS (SELECT
       |  MAX(CASE WHEN treat = 1 AND post = 1 THEN mean_v END) AS tp,
       |  MAX(CASE WHEN treat = 1 AND post = 0 THEN mean_v END) AS tq,
       |  MAX(CASE WHEN treat = 0 AND post = 1 THEN mean_v END) AS cp,
       |  MAX(CASE WHEN treat = 0 AND post = 0 THEN mean_v END) AS cq,
       |  CAST(SUM(n) AS BIGINT) AS n_total
       |  FROM cells HAVING COUNT(*) = 4)
       |SELECT tp AS treat_post, tq AS treat_pre, cp AS ctrl_post,
       |  cq AS ctrl_pre, (tp - tq) - (cp - cq) AS did, n_total
       |FROM p""".stripMargin

  def eventsDid(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events").createOrReplaceTempView("graft_did_events")
    s.sql("WITH " + didSql("graft_did_events",
      ts => s"unix_micros($ts)", "DIV"))
  }

  // ---------------------------------------------------------------------
  // text_code_detect
  // ---------------------------------------------------------------------

  /** Per-document code-likeness signals: the fraction of characters
    * from the code-symbol class `;{}()=<>`, the digit fraction, and
    * a composite flag (symbol density above 4% or digits above 20% —
    * thresholds from the usual prose/code separation; natural prose
    * sits well under both). Pure per-row length arithmetic — no
    * explode, no shuffle; the exact shape of a 100 TB composition
    * gate. Counts via length-difference after class deletion, the
    * engine-neutral spelling of a character-class census. */
  /** `reDel(cls)` spells "delete every char of class `cls` from text"
    * per dialect (Spark's regexp_replace is global by default; DuckDB
    * needs the 'g' flag). */
  private def codeDetectSql(documents: String,
      reDel: String => String): String =
    s"""d AS (SELECT doc_id, text,
       |        CAST(LENGTH(text) AS BIGINT) AS n_chars,
       |        CAST(LENGTH(text) - LENGTH(${reDel("[;{}()=<>]")})
       |             AS BIGINT) AS n_sym,
       |        CAST(LENGTH(text) - LENGTH(${reDel("[0-9]")})
       |             AS BIGINT) AS n_digit
       |      FROM $documents)
       |SELECT doc_id, n_chars, n_sym, n_digit,
       |  CAST(n_sym AS DOUBLE) / n_chars AS sym_frac,
       |  CAST(n_digit AS DOUBLE) / n_chars AS digit_frac,
       |  CAST(n_sym AS DOUBLE) / n_chars > 0.04
       |    OR CAST(n_digit AS DOUBLE) / n_chars > 0.2 AS looks_code
       |FROM d WHERE n_chars > 0""".stripMargin

  def textCodeDetect(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "documents").createOrReplaceTempView("graft_code_docs")
    s.sql("WITH " + codeDetectSql("graft_code_docs",
      cls => s"REGEXP_REPLACE(text, '$cls', '')"))
  }

  val queries: Seq[QueryDef] = Seq(
    QueryDef("events_did", eventsDid, "WITH " + didSql("events",
      ts => s"epoch_us(CAST($ts AS TIMESTAMP))", "//")),
    QueryDef("text_code_detect", textCodeDetect,
      "WITH " + codeDetectSql("documents",
        cls => s"REGEXP_REPLACE(text, '$cls', '', 'g')")))
}
