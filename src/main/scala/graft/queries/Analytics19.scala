package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables

/** Round-10 session-4 batch H: corpus novelty, effect sizes, and a
  * dynamic-SQL surface item.
  *
  *  - `text_novelty` — per-document trigram novelty against all
  *    PRECEDING documents (doc_id order): the self-information audit
  *    that catches template spam and near-copy growth curves.
  *  - `agg_effect_size` — Cohen's d and Hedges' g between purchase
  *    and view event values, from exact decimal moments.
  *  - `sql_execute_immediate` — Spark's EXECUTE IMMEDIATE dynamic-SQL
  *    statement with a USING parameter, graded vs the static text.
  *
  * (`mm_patchify` lives with the codec family in
  * [[graft.multimodal.Multimodal]].)
  *
  * Determinism rules as in [[Analytics]] / [[Analytics12]].
  */
object Analytics19 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---------------------------------------------------------------------
  // text_novelty
  // ---------------------------------------------------------------------

  /** Trigram novelty: a doc's trigram is NOVEL iff no doc with a
    * smaller doc_id contains it — computed as min(doc_id) per
    * distinct trigram (one integer census, no pairwise comparison),
    * joined back per doc. Emits per-doc distinct-trigram and novel
    * counts plus the novelty ratio. The prefix variable is doc_id
    * order, the `agg_heaps_law` convention. */
  private def noveltySql(tri: String): String =
    s"""WITH tri AS ($tri),
       |dt AS (SELECT doc_id, tg FROM tri GROUP BY doc_id, tg),
       |firstd AS (SELECT tg, min(doc_id) AS first_doc FROM dt GROUP BY tg)
       |SELECT dt.doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
       |  CAST(sum(CASE WHEN f.first_doc = dt.doc_id THEN 1 ELSE 0 END)
       |       AS BIGINT) AS n_novel,
       |  CAST(sum(CASE WHEN f.first_doc = dt.doc_id THEN 1 ELSE 0 END)
       |       AS DOUBLE) / count(*) AS novelty
       |FROM dt JOIN firstd f ON f.tg = dt.tg
       |GROUP BY dt.doc_id""".stripMargin

  def textNovelty(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "documents").createOrReplaceTempView("graft_nv_docs")
    s.sql(noveltySql(
      """SELECT doc_id, explode(transform(
        |  CASE WHEN size(ts) >= 3 THEN slice(ts, 1, size(ts) - 2)
        |       ELSE array() END,
        |  (x, i) -> concat(x, ' ', element_at(ts, i + 2), ' ',
        |            element_at(ts, i + 3)))) AS tg
        |FROM (SELECT doc_id, split(text, ' ') AS ts
        |      FROM graft_nv_docs)""".stripMargin))
  }

  // ---------------------------------------------------------------------
  // agg_effect_size
  // ---------------------------------------------------------------------

  /** Cohen's d between purchase and view event values with the
    * Hedges small-sample correction g = d·(1 − 3/(4(n₁+n₂)−9)).
    * Means and the pooled SD come from exact DECIMAL Σx / Σx² in the
    * `win_sharpe` scale discipline; everything after is closed-form
    * double arithmetic on exact inputs. */
  private def effectSizeSql(events: String): String =
    s"""WITH g AS (SELECT event_type, count(*) AS n,
       |        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
       |        CAST(sum(CAST(value * value AS DECIMAL(18,4))) AS DOUBLE) AS sxx
       |      FROM $events WHERE event_type IN ('purchase', 'view')
       |      GROUP BY event_type),
       |w AS (SELECT
       |        max(CASE WHEN event_type = 'purchase' THEN n END) AS n1,
       |        max(CASE WHEN event_type = 'purchase' THEN sx END) AS sx1,
       |        max(CASE WHEN event_type = 'purchase' THEN sxx END) AS sxx1,
       |        max(CASE WHEN event_type = 'view' THEN n END) AS n2,
       |        max(CASE WHEN event_type = 'view' THEN sx END) AS sx2,
       |        max(CASE WHEN event_type = 'view' THEN sxx END) AS sxx2
       |      FROM g HAVING count(*) = 2),
       |d AS (SELECT n1, n2, sx1 / n1 - sx2 / n2 AS md,
       |        sqrt(((sxx1 - sx1 * sx1 / n1) + (sxx2 - sx2 * sx2 / n2))
       |             / (n1 + n2 - 2)) AS sp
       |      FROM w)
       |SELECT CAST(n1 AS BIGINT) AS n_purchase, CAST(n2 AS BIGINT) AS n_view,
       |  md AS mean_diff,
       |  CASE WHEN sp > 0.0 THEN md / sp END AS cohens_d,
       |  CASE WHEN sp > 0.0 THEN md / sp
       |    * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0)) END AS hedges_g
       |FROM d""".stripMargin

  def aggEffectSize(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events").createOrReplaceTempView("graft_es_events")
    s.sql(effectSizeSql("graft_es_events"))
  }

  // ---------------------------------------------------------------------
  // sql_execute_immediate
  // ---------------------------------------------------------------------

  /** Dynamic SQL via EXECUTE IMMEDIATE ... USING: the statement text
    * arrives as a string and the threshold binds as a parameter
    * marker — the catalog-driven-query surface (SQL scripting's
    * companion). Graded against the statically planned text. */
  def sqlExecuteImmediate(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("graft_ei_orders")
    s.sql(
      """EXECUTE IMMEDIATE
        |  'SELECT o_orderstatus AS status, count(*) AS n_orders,
        |     CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |       AS revenue
        |   FROM graft_ei_orders WHERE o_totalprice >= ?
        |   GROUP BY o_orderstatus'
        |  USING 100000""".stripMargin)
  }

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("text_novelty", textNovelty, noveltySql(
      """SELECT doc_id, d.ts[g] || ' ' || d.ts[g + 1] || ' ' || d.ts[g + 2] AS tg
        |FROM (SELECT doc_id, string_split(text, ' ') AS ts
        |      FROM documents) d,
        |  UNNEST(generate_series(1, len(d.ts) - 2)) AS t(g)""".stripMargin)),
    QueryDef("agg_effect_size", aggEffectSize, effectSizeSql("events")),
    QueryDef("sql_execute_immediate", sqlExecuteImmediate,
      """SELECT o_orderstatus AS status, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders WHERE o_totalprice >= 100000
        |GROUP BY o_orderstatus""".stripMargin))
}
