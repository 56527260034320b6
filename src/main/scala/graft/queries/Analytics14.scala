package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.NameParameterizedQuery
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshims.DatasetShim

import graft.QueryDef
import graft.core.Tables

/** Round-10 session-4 batch C: survival hazard, risk curves,
  * stylometry, eval-set decontamination, and a dynamic-SQL surface
  * item.
  *
  *  - `agg_nelson_aalen` — cumulative-hazard companion of
  *    `agg_kaplan_meier` over the identical event census.
  *  - `win_ulcer_index` — Ulcer index (root-mean-square percentage
  *    drawdown, Martin 1987) per user, next to `win_drawdown`'s raw
  *    curve and `win_sharpe`'s volatility-normalized return.
  *  - `text_burrows_delta` — Burrows' Delta authorship distance
  *    between sources over a top-15-word frequency panel.
  *  - `llm_rouge_decontam` — eval-set decontamination by ROUGE-1/2
  *    recall against a 10-doc held-out set (the n-gram-overlap flag
  *    GPT-3/PaLM-style training pipelines run before training).
  *  - `sql_named_params` — Spark's parameterized SQL (named parameter
  *    markers bound server-side, no string splicing).
  *
  * (`mm_scene_cuts` lives in [[graft.multimodal.Multimodal]] with the
  * rest of the codec-boundary family.)
  *
  * Determinism rules as in [[Analytics]] / [[Analytics12]].
  */
object Analytics14 {

  // ---------------------------------------------------------------------
  // agg_nelson_aalen
  // ---------------------------------------------------------------------

  /** Nelson-Aalen cumulative hazard Ĥ(t) = Σ_{tᵢ≤t} dᵢ/nᵢ with its
    * variance Σ dᵢ/nᵢ², over EXACTLY the `agg_kaplan_meier` event
    * census (first event → first purchase, 48 h administrative
    * censoring, integer hour durations). Each hazard increment is an
    * int/int double — bit-identical both engines — and the cumulative
    * sums run over ONE ascending order on the horizon-bounded (≤49
    * row) relation. At scale: two grouped aggregations + a left join
    * on the corpus, windows only on the bounded relation. */
  def aggNelsonAalen(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val u = ev.groupBy("user_id").agg(min("ts").as("f"))
    val p = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min("ts").as("fp"))
    val hours = expr("(unix_timestamp(fp) - unix_timestamp(f)) DIV 3600")
    val d = u.join(p, Seq("user_id"), "left")
      .select(
        when(col("fp").isNotNull && hours <= 48, hours)
          .otherwise(48L).as("dur"),
        when(col("fp").isNotNull && hours <= 48, 1L)
          .otherwise(0L).as("obs"))
    val g = d.groupBy("dur")
      .agg(count(lit(1)).as("total"), sum("obs").as("d_events"))
    val wDesc = org.apache.spark.sql.expressions.Window
      .orderBy(col("dur").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val wAsc = org.apache.spark.sql.expressions.Window
      .orderBy(col("dur"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    g.withColumn("n_risk", sum("total").over(wDesc))
      .filter(col("d_events") > 0)
      .select(col("dur").as("t_hours"), col("n_risk"), col("d_events"),
        sum(col("d_events").cast("double") / col("n_risk")).over(wAsc)
          .as("h_cum"),
        sum(col("d_events").cast("double")
          / (col("n_risk") * col("n_risk"))).over(wAsc).as("h_var"))
  }

  // ---------------------------------------------------------------------
  // win_ulcer_index
  // ---------------------------------------------------------------------

  /** Ulcer index per user: percentage drawdown from the running max
    * under the (ts, event_id) total order, RMS-aggregated. The
    * running max only COMPARES doubles (exact); the per-row drawdown
    * is then identical on both engines and the squared sum rides the
    * corr-family ulp absorption. */
  private def ulcerSql(events: String): String =
    s"""WITH w AS (SELECT user_id, value,
       |        max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmax
       |      FROM $events),
       |t AS (SELECT user_id, 100.0 * (value - runmax) / runmax AS ddpct
       |      FROM w WHERE runmax > 0)
       |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       |  min(ddpct) AS max_drawdown_pct,
       |  sqrt(sum(ddpct * ddpct) / count(*)) AS ulcer_index
       |FROM t GROUP BY user_id HAVING count(*) >= 5""".stripMargin

  // ---------------------------------------------------------------------
  // text_burrows_delta
  // ---------------------------------------------------------------------

  /** Burrows' Delta between every source pair: per-source relative
    * frequencies of the top-15 corpus words, z-scored per word across
    * sources, Delta = mean |z_a − z_b| over the panel. The corpus
    * pass is one tokenize + two bounded-key censuses; everything
    * after runs on |sources|×|panel| rows. Frequencies are int/int
    * doubles; the 20-source moments and 15-term pair sums ride the
    * corr-family absorption. `tok` is dialect-split (explode vs
    * unnest); the census text is shared. */
  private def burrowsSql(tok: String): String =
    s"""WITH tok AS ($tok),
       |stot AS (SELECT source, count(*) AS nt FROM tok GROUP BY source),
       |panel AS (SELECT w FROM tok GROUP BY w
       |          ORDER BY count(*) DESC, w LIMIT 15),
       |f AS (SELECT tk.source, tk.w, count(*) AS c
       |      FROM tok tk JOIN panel p ON p.w = tk.w GROUP BY 1, 2),
       |rel AS (SELECT s.source, p.w,
       |          CAST(coalesce(f.c, 0) AS DOUBLE) / s.nt AS fr
       |        FROM stot s CROSS JOIN panel p
       |          LEFT JOIN f ON f.source = s.source AND f.w = p.w),
       |mu AS (SELECT w, avg(fr) AS m, stddev_samp(fr) AS sd
       |       FROM rel GROUP BY w),
       |z AS (SELECT rel.source, rel.w, (fr - m) / sd AS z
       |      FROM rel JOIN mu ON mu.w = rel.w WHERE sd > 0)
       |SELECT a.source AS source_a, b.source AS source_b,
       |  CAST(count(*) AS BIGINT) AS n_panel,
       |  sum(abs(a.z - b.z)) / count(*) AS delta
       |FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
       |GROUP BY 1, 2""".stripMargin

  def textBurrowsDelta(s: SparkSession, dir: String): DataFrame = {
    Tables.sql(s, dir, burrowsSql(
      """SELECT source, w FROM (
        |  SELECT source, explode(split(text, ' ')) AS w
        |  FROM documents) WHERE w RLIKE '^[a-z]+$'""".stripMargin))
  }

  // ---------------------------------------------------------------------
  // llm_rouge_decontam
  // ---------------------------------------------------------------------

  /** Eval-set decontamination: ROUGE-1 and ROUGE-2 recall of every
    * training document against a 10-doc held-out set (lowest
    * md5(doc_id) — deterministic), flag when bigram recall exceeds
    * 0.5. Recall is |distinct n-gram overlap| / |eval n-grams| — all
    * integer censuses; max over exact doubles. SCALE SHAPE: this is
    * the real pipeline's geometry — the eval side is tiny and
    * broadcast, the corpus side is one explode + equi-join per n-gram
    * order, nothing quadratic in the corpus. The n-gram extraction is
    * dialect-split; the scoring text is shared. */
  /** Shared CTE chain through the per-(doc, eval) overlap scores —
    * also the base of [[Analytics17.llmHardNegatives]]. */
  private[queries] def rougeCtes(uni: String, bi: String): String =
    s"""ev AS (SELECT doc_id FROM documents2
       |        ORDER BY md5(CAST(doc_id AS STRING)), doc_id LIMIT 10),
       |u1 AS (SELECT doc_id, w FROM ($uni) GROUP BY doc_id, w),
       |b1 AS (SELECT doc_id, bg FROM ($bi) GROUP BY doc_id, bg),
       |e1 AS (SELECT u1.doc_id, u1.w FROM u1 JOIN ev ON ev.doc_id = u1.doc_id),
       |e2 AS (SELECT b1.doc_id, b1.bg FROM b1 JOIN ev ON ev.doc_id = b1.doc_id),
       |n1 AS (SELECT doc_id AS eid, count(*) AS sz FROM e1 GROUP BY 1),
       |n2 AS (SELECT doc_id AS eid, count(*) AS sz FROM e2 GROUP BY 1),
       |o1 AS (SELECT c.doc_id, e.doc_id AS eid, count(*) AS o
       |       FROM u1 c JOIN e1 e ON e.w = c.w GROUP BY 1, 2),
       |o2 AS (SELECT c.doc_id, e.doc_id AS eid, count(*) AS o
       |       FROM b1 c JOIN e2 e ON e.bg = c.bg GROUP BY 1, 2)""".stripMargin

  /** Spark-side staged rouge bases: ev/u1/b1 as eagerly checkpointed
    * frames, returning a CTE prefix equivalent to [[rougeCtes]] and the
    * frames (with `documents2`, the documents table) it reads.
    * u1/b1 are corpus-wide explode+distinct relations, each referenced
    * TWICE in the chain (e1/o1 resp. e2/o2), and Spark INLINES
    * deterministic CTEs — left lazy, the corpus tokenization and
    * distinct ran twice per n-gram order. The oracle keeps the plain
    * CTE spelling (it grades values, not spelling). */
  private[queries] def stageRougeBases(s: SparkSession, dir: String)
      : (String, Seq[(String, DataFrame)]) = {
    import graft.core.CkptTap._
    val docs = "documents2" -> Tables.load(s, dir, "documents")
    def staged(text: String) = Tables.sql(s, dir, text, docs).tappedLocalCheckpoint()
    val frames = Seq(docs,
      "graft_rg_ev" -> staged(
        """SELECT doc_id FROM documents2
          |ORDER BY md5(CAST(doc_id AS STRING)), doc_id LIMIT 10""".stripMargin),
      "graft_rg_u1" -> staged(s"SELECT doc_id, w FROM ($rougeSparkUni) GROUP BY doc_id, w"),
      "graft_rg_b1" -> staged(s"SELECT doc_id, bg FROM ($rougeSparkBi) GROUP BY doc_id, bg"))
    """ev AS (SELECT * FROM graft_rg_ev),
      |u1 AS (SELECT * FROM graft_rg_u1),
      |b1 AS (SELECT * FROM graft_rg_b1),
      |e1 AS (SELECT u1.doc_id, u1.w FROM u1 JOIN ev ON ev.doc_id = u1.doc_id),
      |e2 AS (SELECT b1.doc_id, b1.bg FROM b1 JOIN ev ON ev.doc_id = b1.doc_id),
      |n1 AS (SELECT doc_id AS eid, count(*) AS sz FROM e1 GROUP BY 1),
      |n2 AS (SELECT doc_id AS eid, count(*) AS sz FROM e2 GROUP BY 1),
      |o1 AS (SELECT c.doc_id, e.doc_id AS eid, count(*) AS o
      |       FROM u1 c JOIN e1 e ON e.w = c.w GROUP BY 1, 2),
      |o2 AS (SELECT c.doc_id, e.doc_id AS eid, count(*) AS o
      |       FROM b1 c JOIN e2 e ON e.bg = c.bg GROUP BY 1, 2)""".stripMargin -> frames
  }

  private def rougeSql(uni: String, bi: String): String =
    rougeSqlFrom(rougeCtes(uni, bi))

  private[queries] def rougeSqlFrom(ctes: String): String =
    s"""WITH $ctes,
       |r1 AS (SELECT o1.doc_id, max(CAST(o1.o AS DOUBLE) / n1.sz) AS r
       |       FROM o1 JOIN n1 ON n1.eid = o1.eid GROUP BY 1),
       |r2 AS (SELECT o2.doc_id, max(CAST(o2.o AS DOUBLE) / n2.sz) AS r
       |       FROM o2 JOIN n2 ON n2.eid = o2.eid GROUP BY 1)
       |SELECT d.doc_id, coalesce(r1.r, 0.0) AS rouge1,
       |  coalesce(r2.r, 0.0) AS rouge2,
       |  coalesce(r2.r, 0.0) > 0.5 AS contaminated
       |FROM documents2 d
       |  LEFT JOIN r1 ON r1.doc_id = d.doc_id
       |  LEFT JOIN r2 ON r2.doc_id = d.doc_id
       |WHERE NOT EXISTS (SELECT 1 FROM ev WHERE ev.doc_id = d.doc_id)""".stripMargin

  private[queries] val rougeSparkUni: String =
    """SELECT doc_id, explode(split(text, ' ')) AS w FROM documents2"""
  private[queries] val rougeSparkBi: String =
    """SELECT doc_id, explode(transform(slice(ts, 1, size(ts) - 1),
      |  (x, i) -> concat(x, ' ', element_at(ts, i + 2)))) AS bg
      |FROM (SELECT doc_id, split(text, ' ') AS ts FROM documents2)""".stripMargin
  private[queries] val rougeDuckUni: String =
    """SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |FROM documents2""".stripMargin
  private[queries] val rougeDuckBi: String =
    """SELECT d.doc_id, d.ts[g] || ' ' || d.ts[g + 1] AS bg
      |FROM (SELECT doc_id, string_split(text, ' ') AS ts
      |      FROM documents2) d,
      |  UNNEST(generate_series(1, len(d.ts) - 1)) AS t(g)""".stripMargin

  def llmRougeDecontam(s: SparkSession, dir: String): DataFrame = {
    val (ctes, frames) = stageRougeBases(s, dir)
    Tables.sql(s, dir, rougeSqlFrom(ctes), frames: _*)
  }

  private[queries] def rougeOracleSql: String =
    s"WITH documents2 AS (SELECT * FROM documents),\n" +
      rougeSql(rougeDuckUni, rougeDuckBi).replaceFirst("^WITH ", "")

  // ---------------------------------------------------------------------
  // sql_named_params
  // ---------------------------------------------------------------------

  /** Parameterized SQL: the named parameter markers (`:minPrice`,
    * `:cutoff`) stay parameters in the parsed plan and the analyzer's
    * parameter binding (`NameParameterizedQuery`, the plan
    * `spark.sql(text, args)` builds under constants-only substitution)
    * turns them into literals — no string splicing (the
    * SQL-injection-safe surface). The oracle is the same query with
    * the parameters inlined. */
  def sqlNamedParams(s: SparkSession, dir: String): DataFrame =
    DatasetShim.ofRows(s, NameParameterizedQuery(
      Tables.plan(s, dir,
        """SELECT o_orderpriority AS priority, count(*) AS n_orders,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
          |FROM orders
          |WHERE o_totalprice >= :minPrice
          |  AND o_orderdate < CAST(:cutoff AS TIMESTAMP)
          |GROUP BY o_orderpriority""".stripMargin),
      Map[String, Expression](
        "minPrice" -> Literal(50000), "cutoff" -> Literal("1999-01-01"))))

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("agg_nelson_aalen", aggNelsonAalen,
      """WITH u AS (SELECT user_id, MIN(ts) AS f FROM events GROUP BY 1),
        |p AS (SELECT user_id, MIN(ts) AS fp FROM events
        |      WHERE event_type = 'purchase' GROUP BY 1),
        |d AS (SELECT
        |        CASE WHEN fp IS NOT NULL
        |              AND date_diff('second', f, fp) // 3600 <= 48
        |             THEN date_diff('second', f, fp) // 3600
        |             ELSE 48 END AS dur,
        |        CASE WHEN fp IS NOT NULL
        |              AND date_diff('second', f, fp) // 3600 <= 48
        |             THEN 1 ELSE 0 END AS obs
        |      FROM u LEFT JOIN p USING(user_id)),
        |g AS (SELECT dur, COUNT(*) AS total, SUM(obs) AS d_events
        |      FROM d GROUP BY 1),
        |r AS (SELECT dur, d_events,
        |        SUM(total) OVER (ORDER BY dur DESC) AS n_risk
        |      FROM g)
        |SELECT CAST(dur AS BIGINT) AS t_hours,
        |  CAST(n_risk AS BIGINT) AS n_risk,
        |  CAST(d_events AS BIGINT) AS d_events,
        |  SUM(CAST(d_events AS DOUBLE) / n_risk) OVER (ORDER BY dur) AS h_cum,
        |  SUM(CAST(d_events AS DOUBLE) / (n_risk * n_risk))
        |    OVER (ORDER BY dur) AS h_var
        |FROM r WHERE d_events > 0""".stripMargin),
    QueryDef.sql("win_ulcer_index", ulcerSql("events")),
    QueryDef("text_burrows_delta", textBurrowsDelta, burrowsSql(
      """SELECT source, w FROM (
        |  SELECT source, unnest(string_split(text, ' ')) AS w
        |  FROM documents) t WHERE regexp_matches(w, '^[a-z]+$')""".stripMargin)),
    QueryDef("llm_rouge_decontam", llmRougeDecontam, rougeOracleSql),
    QueryDef("sql_named_params", sqlNamedParams,
      """SELECT o_orderpriority AS priority, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |WHERE o_totalprice >= 50000
        |  AND o_orderdate < CAST('1999-01-01' AS TIMESTAMP)
        |GROUP BY o_orderpriority""".stripMargin))
}
