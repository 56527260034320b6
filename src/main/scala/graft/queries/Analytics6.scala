package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables
import graft.core.CkptTap._

/** Round-9 widening, fifth batch: a Kalman filter fold, Brown-Forsythe
  * variance homogeneity, degree assortativity, lexicon sentiment
  * scoring, a Gumbel extreme-value fit, and inter-arrival statistics.
  *
  * Determinism policy, per family (the Analytics4/5 contracts):
  *   - folds (`win_kalman`) replay one IEEE sequence on both engines —
  *     aggregate HOF here, recursive CTE in DuckDB (never list_reduce:
  *     DuckDB 1.0 mutates struct accumulators field-by-field).
  *   - medians (`agg_levene`'s per-group, `events_interarrival`'s
  *     per-type) pick explicit middle row_numbers under INTEGER
  *     division (Spark `div`, DuckDB `//`) — fractional index casts
  *     truncate on Spark and round on DuckDB.
  *   - cross-row accumulations ride DECIMAL(38,18) (`agg_levene`'s
  *     z-sums, `agg_gumbel_fit`'s max-sums) or stay integer
  *     (`text_sentiment`'s token scores, `events_interarrival`'s
  *     microsecond gaps) until a final division.
  *   - `graph_assortativity` ends in corr() over integer degrees —
  *     the partial-merge double drift on an O(1) statistic sits far
  *     below the harness's 6-decimal canonicalization (the
  *     agg_spearman precedent).
  *
  * Plan hygiene: relations read more than once (the bipartite edge
  * set, the ranked Levene rows, the non-null gap relation) are
  * localCheckpointed — Spark inlines CTE references
  * (the [[Analytics4.graphTriangles]] lesson). */
object Analytics6 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Per-user 1-D random-walk Kalman filter over the event-value
    * series (process noise Q=4, measurement noise R=25): predict
    * P←P+Q, gain K=P/(P+R), update x̂←x̂+K(z−x̂), P←(1−K)P, seeded at
    * the first observation with P=R. Emits the final level, variance
    * and gain — the one-pass streaming-state shape (each user's fold
    * is a bounded sequential scan inside the row). */
  def winKalman(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("ts"), col("event_id"), col("value"))))
        .as("xs"))
      .select(col("user_id"), expr("transform(xs, x -> x.value)").as("vs"))
      .select(col("user_id"), size(col("vs")).cast("long").as("n_events"),
        expr("""aggregate(slice(vs, 2, size(vs) - 1),
                 named_struct('x', vs[0], 'p', 25.0D, 'k', 0.0D),
                 (acc, z) -> named_struct(
                   'x', acc.x + ((acc.p + 4.0D) / (acc.p + 4.0D + 25.0D)) * (z - acc.x),
                   'p', (1.0D - ((acc.p + 4.0D) / (acc.p + 4.0D + 25.0D))) * (acc.p + 4.0D),
                   'k', (acc.p + 4.0D) / (acc.p + 4.0D + 25.0D)))""").as("f"))
      .select(col("user_id"), col("n_events"),
        col("f.x").as("kf_level"), col("f.p").as("kf_var"),
        col("f.k").as("kf_gain"))

  /** Brown-Forsythe (median-centered Levene) test of variance
    * homogeneity across the five order priorities: per-group medians
    * via explicit middle elements, absolute deviations z = |x − med|,
    * then the one-way-ANOVA F statistic on z. Same O(1) metric
    * rescale and DECIMAL z-sums as [[Analytics5.aggAnova]]. The
    * ranked relation is checkpointed: both the median pick and the
    * deviation join read it. */
  def aggLevene(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("graft_lv_orders")
    s.sql(
      """SELECT o_orderpriority AS grp, o_totalprice / 100000.0 AS x,
        |       row_number() OVER (PARTITION BY o_orderpriority
        |                          ORDER BY o_totalprice / 100000.0) AS rn,
        |       count(*) OVER (PARTITION BY o_orderpriority) AS n
        |FROM graft_lv_orders""".stripMargin)
      .tappedLocalCheckpoint()
      .createOrReplaceTempView("graft_lv_r")
    s.sql("WITH " + leveneCensus("graft_lv_r", "div"))
  }

  private def leveneCensus(r: String, intdiv: String): String =
    s"""med AS (SELECT grp, avg(x) AS med FROM $r
       |        WHERE rn IN (CAST((n + 1) $intdiv 2 AS BIGINT),
       |                     CAST((n + 2) $intdiv 2 AS BIGINT))
       |        GROUP BY grp),
       |z AS (SELECT r.grp, abs(r.x - med.med) AS z
       |      FROM $r r JOIN med ON r.grp = med.grp),
       |g AS (SELECT grp, count(*) AS n,
       |        CAST(sum(CAST(z AS DECIMAL(38, 18))) AS DOUBLE) AS sz,
       |        CAST(sum(CAST(z * z AS DECIMAL(38, 18))) AS DOUBLE) AS szz
       |      FROM z GROUP BY grp),
       |t AS (SELECT count(*) AS k, sum(n) AS n, sum(sz) AS tsz FROM g),
       |b AS (SELECT sum(g.n * ((g.sz / g.n) - (t.tsz / t.n))
       |                  * ((g.sz / g.n) - (t.tsz / t.n))) AS ssb,
       |             sum(g.szz - g.sz * g.sz / g.n) AS ssw,
       |             min(t.k) AS k, min(t.n) AS n
       |      FROM g CROSS JOIN t)
       |SELECT CAST(k AS BIGINT) AS k_groups, CAST(n AS BIGINT) AS n_rows,
       |       (ssb / (k - 1)) / (ssw / (n - k)) AS w_stat
       |FROM b""".stripMargin

  /** Degree assortativity of the supplier↔part bipartite graph:
    * Pearson correlation between the endpoint degrees across distinct
    * edges. Positive → high-degree suppliers stock high-degree parts.
    * The edge relation is derived once (distinct pair projection,
    * checkpointed); degrees are two map-side-combined group-bys joined
    * back on their keys — all equi-joins, linear at any scale. */
  def graphAssortativity(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem")
      .select(col("l_suppkey").as("sk"), col("l_partkey").as("pk"))
      .distinct()
      .tappedLocalCheckpoint()
      .createOrReplaceTempView("graft_as_edges")
    s.sql(assortCensus("graft_as_edges"))
  }

  private def assortCensus(e: String): String =
    s"""WITH ds AS (SELECT sk, count(*) AS d FROM $e GROUP BY sk),
       |dp AS (SELECT pk, count(*) AS d FROM $e GROUP BY pk)
       |SELECT CAST(count(*) AS BIGINT) AS n_edges,
       |       (SELECT CAST(count(*) AS BIGINT) FROM ds) AS n_suppliers,
       |       (SELECT CAST(count(*) AS BIGINT) FROM dp) AS n_parts,
       |       corr(CAST(ds.d AS DOUBLE), CAST(dp.d AS DOUBLE)) AS assortativity
       |FROM $e e JOIN ds ON ds.sk = e.sk JOIN dp ON dp.pk = e.pk""".stripMargin

  /** AFINN-style lexicon sentiment over the fixture vocabulary
    * (fast+2 slow−2 big+1 small−1 dup−2 merge+1, else 0): integer
    * token scores summed inside the row — pure projection, zero
    * shuffle; the mean is the one final division. */
  def textSentiment(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"),
        expr(s"""aggregate(transform(split(text, ' '), t -> $sentCase), 0L,
                  (a, x) -> a + x)""").as("sent_sum"))
      .select(col("doc_id"), col("n_tokens"), col("sent_sum"),
        (col("sent_sum").cast("double") / col("n_tokens")).as("sent_mean"),
        when(col("sent_sum") > 0, lit("pos"))
          .when(col("sent_sum") < 0, lit("neg"))
          .otherwise(lit("neu")).as("sent_label"))

  private val sentCase =
    """CASE t WHEN 'fast' THEN 2L WHEN 'slow' THEN -2L WHEN 'big' THEN 1L
      |       WHEN 'small' THEN -1L WHEN 'dup' THEN -2L WHEN 'merge' THEN 1L
      |       ELSE 0L END""".stripMargin.replace('\n', ' ')

  /** Method-of-moments Gumbel fit of the daily maximum event value:
    * β = s·√6/π, μ = x̄ − γβ over the ~30 daily maxima. The daily max
    * is an exact per-group reduction; mean/std of the maxima ride
    * DECIMAL sums. One distributed pass + a scalar fit — the classic
    * "what peak load should we provision for" question. */
  def aggGumbelFit(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events").createOrReplaceTempView("graft_gb_events")
    s.sql(gumbelSql("graft_gb_events"))
  }

  // std expression repeated textually so both engines evaluate the
  // identical tree; γ is the Euler-Mascheroni double literal.
  private def gumbelSql(table: String): String =
    s"""WITH daily AS (SELECT CAST(ts AS DATE) AS d, max(value) AS mx
       |               FROM $table GROUP BY 1),
       |g AS (SELECT count(*) AS n,
       |        CAST(sum(CAST(mx AS DECIMAL(38, 18))) AS DOUBLE) AS sx,
       |        CAST(sum(CAST(mx * mx AS DECIMAL(38, 18))) AS DOUBLE) AS sxx
       |      FROM daily)
       |SELECT CAST(n AS BIGINT) AS n_days, sx / n AS mean_max,
       |  sqrt(greatest((sxx - sx * sx / n) / (n - 1), 0.0)) AS std_max,
       |  sqrt(greatest((sxx - sx * sx / n) / (n - 1), 0.0))
       |    * sqrt(6.0) / pi() AS gumbel_beta,
       |  sx / n - 0.5772156649015329
       |    * (sqrt(greatest((sxx - sx * sx / n) / (n - 1), 0.0))
       |       * sqrt(6.0) / pi()) AS gumbel_mu
       |FROM g""".stripMargin

  /** Inter-arrival statistics per event type: gaps between consecutive
    * events of one type FOR ONE USER (the (user, type) keying keeps
    * the lag window parallel at scale — a type-only partition is 5
    * partitions forever), aggregated to per-type mean/median/max.
    * Gaps stay integer microseconds; the median picks explicit middle
    * elements; the only floating steps are the three final /1e6
    * conversions. */
  def eventsInterarrival(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events").createOrReplaceTempView("graft_ia_events")
    s.sql(
      """SELECT event_type,
        |       unix_micros(ts) - lag(unix_micros(ts))
        |         OVER (PARTITION BY user_id, event_type
        |               ORDER BY unix_micros(ts), event_id) AS gap
        |FROM graft_ia_events""".stripMargin)
      .filter(col("gap").isNotNull)
      .tappedLocalCheckpoint()
      .createOrReplaceTempView("graft_ia_gaps")
    s.sql("WITH " + iaCensus("graft_ia_gaps", "div"))
  }

  private def iaCensus(gaps: String, intdiv: String): String =
    s"""r AS (SELECT event_type, gap,
       |        row_number() OVER (PARTITION BY event_type ORDER BY gap) AS rn,
       |        count(*) OVER (PARTITION BY event_type) AS n FROM $gaps),
       |med AS (SELECT event_type, avg(CAST(gap AS DOUBLE)) AS med_us FROM r
       |        WHERE rn IN (CAST((n + 1) $intdiv 2 AS BIGINT),
       |                     CAST((n + 2) $intdiv 2 AS BIGINT))
       |        GROUP BY event_type),
       |s AS (SELECT event_type, count(*) AS n_gaps, sum(gap) AS sum_us,
       |             max(gap) AS max_us FROM $gaps GROUP BY event_type)
       |SELECT s.event_type, CAST(s.n_gaps AS BIGINT) AS n_gaps,
       |       CAST(s.sum_us AS DOUBLE) / s.n_gaps / 1000000.0 AS mean_gap_s,
       |       med.med_us / 1000000.0 AS med_gap_s,
       |       CAST(s.max_us AS DOUBLE) / 1000000.0 AS max_gap_s
       |FROM s JOIN med ON s.event_type = med.event_type""".stripMargin

  val queries: Seq[QueryDef] = Seq(
    QueryDef("win_kalman", winKalman,
      """WITH RECURSIVE
        |v AS (SELECT user_id,
        |        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i,
        |        CAST(value AS DOUBLE) AS x FROM events),
        |n AS (SELECT user_id, max(i) AS n FROM v GROUP BY user_id),
        |f(user_id, i, x, p, k) AS (
        |  SELECT user_id, 1, x, CAST(25.0 AS DOUBLE), CAST(0.0 AS DOUBLE)
        |  FROM v WHERE i = 1
        |  UNION ALL
        |  SELECT f.user_id, f.i + 1,
        |    f.x + ((f.p + 4.0) / (f.p + 4.0 + 25.0)) * (v.x - f.x),
        |    (1.0 - ((f.p + 4.0) / (f.p + 4.0 + 25.0))) * (f.p + 4.0),
        |    (f.p + 4.0) / (f.p + 4.0 + 25.0)
        |  FROM f JOIN v ON v.user_id = f.user_id AND v.i = f.i + 1)
        |SELECT f.user_id, CAST(n.n AS BIGINT) AS n_events, f.x AS kf_level,
        |       f.p AS kf_var, f.k AS kf_gain
        |FROM f JOIN n ON n.user_id = f.user_id WHERE f.i = n.n""".stripMargin),
    QueryDef("agg_levene", aggLevene,
      """WITH r AS (SELECT o_orderpriority AS grp, o_totalprice / 100000.0 AS x,
         |             row_number() OVER (PARTITION BY o_orderpriority
         |                                ORDER BY o_totalprice / 100000.0) AS rn,
         |             count(*) OVER (PARTITION BY o_orderpriority) AS n
         |           FROM orders),
         |""".stripMargin + leveneCensus("r", "//")),
    QueryDef("graph_assortativity", graphAssortativity,
      """WITH e AS (SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
         |           FROM lineitem),
         |""".stripMargin +
        assortCensus("e").replaceFirst("WITH ", "")),
    QueryDef("text_sentiment", textSentiment,
      s"""WITH c AS (SELECT doc_id,
         |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |             CAST(list_sum(list_transform(string_split(text, ' '),
         |                    t -> ${sentCase.replaceAll("(-?\\d)L", "$1")})) AS BIGINT) AS sent_sum
         |           FROM documents)
         |SELECT doc_id, n_tokens, sent_sum,
         |       CAST(sent_sum AS DOUBLE) / n_tokens AS sent_mean,
         |       CASE WHEN sent_sum > 0 THEN 'pos' WHEN sent_sum < 0 THEN 'neg'
         |            ELSE 'neu' END AS sent_label
         |FROM c""".stripMargin),
    QueryDef("agg_gumbel_fit", aggGumbelFit, gumbelSql("events")),
    QueryDef("events_interarrival", eventsInterarrival,
      """WITH gaps0 AS (SELECT event_type,
         |         epoch_us(ts) - lag(epoch_us(ts))
         |           OVER (PARTITION BY user_id, event_type
         |                 ORDER BY epoch_us(ts), event_id) AS gap
         |       FROM events),
         |g2 AS (SELECT event_type, gap FROM gaps0 WHERE gap IS NOT NULL),
         |""".stripMargin + iaCensus("g2", "//")))
}
