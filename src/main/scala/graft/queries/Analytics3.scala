package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryDef
import graft.core.Tables
import graft.core.CkptTap._

/** Round-9 widening: the algebra/analytics long tail that was still
  * genuinely missing after 209 queries — an explicit cross join, a
  * left-fold EWMA (the recursive time-series smoother the reference's
  * stock domain would use for trend lines), a fixed-iteration weighted
  * PageRank over the event-type transition graph (iterative-dataframe
  * fixpoint with a recursive-CTE oracle), blocked Levenshtein
  * near-dup scoring, and a Zipf rank-frequency fit over the corpus
  * vocabulary (the standard sanity check on a training corpus's token
  * distribution).
  *
  * Determinism rules as in [[graft.queries.Analytics]]: every window
  * has a total order, every double is emitted raw (the harness's
  * 6-decimal canonicalization absorbs ulp-level engine differences),
  * and both engines fold sequences in the same order.
  */
object Analytics3 {

  /** Explicit cartesian product: nation × region with a home-region
    * indicator. The one join shape with no key at all — Spark plans a
    * BroadcastNestedLoopJoin; both sides are dimension-tiny, which is
    * the only situation a cross join is legitimate at scale. */
  def joinCross(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "nation").select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .crossJoin(Tables.load(s, dir, "region").select(col("r_regionkey"), col("r_name")))
      .select(col("n_name"), col("r_name"),
        (col("n_regionkey") === col("r_regionkey")).cast("int").as("is_home"))

  /** Exponentially weighted moving average (α=0.3) of each user's
    * event values, seeded with the first observation — the recursive
    * smoother that plain window frames cannot express. One grouped
    * collect into a (ts, event_id)-sorted array, then a sequential
    * `aggregate` fold; DuckDB's `list_reduce` folds the identical
    * order, so the IEEE double sequence is bit-identical. Group state
    * is O(events-per-user), the same bound every per-user window in
    * the suite already carries. */
  def winEwma(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("ts"), col("event_id"), col("value"))))
        .as("xs"))
      .select(col("user_id"), expr("transform(xs, x -> x.value)").as("vs"))
      .select(col("user_id"),
        size(col("vs")).cast("long").as("n_events"),
        expr("aggregate(slice(vs, 2, size(vs) - 1), vs[0], " +
          "(acc, x) -> 0.3D * x + 0.7D * acc)").as("ewma"))

  /** Weighted PageRank (d=0.85, 10 fixed iterations) over the
    * event-type transition graph. The scale-heavy half — deriving the
    * out-weight-normalized edge list from the raw event stream — is
    * one window pass plus one aggregation; the fixpoint then runs on
    * the aggregated graph, whose size is O(|event types|²), not
    * O(rows). The tiny edge/node relations are localCheckpoint'ed so
    * the 10-iteration loop does not re-derive them from the scan each
    * time, and each iteration is a broadcast join + 25-row shuffle.
    * The mass-update sum is pinned through DECIMAL(38,18) (exact,
    * order-invariant — the [[LlmVectors.kmeansTrain]] recipe) so a
    * repartition or AQE re-plan can never shift a rank by an ulp.
    * The fixture graph is complete (every type follows every type),
    * so the inner-join mass-update loses no node; the oracle is the
    * same recursion as a recursive CTE. */
  def graphPagerank(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events").select("user_id", "ts", "event_id", "event_type")
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val wnorm = ev.withColumn("nxt", lead(col("event_type"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("event_type").as("src"), col("nxt").as("dst"))
      .agg(count(lit(1)).cast("double").as("cnt"))
      .withColumn("wt", col("cnt") / sum(col("cnt")).over(Window.partitionBy("src")))
      .select("src", "dst", "wt")
      .tappedLocalCheckpoint()
    val nodes = ev.select(col("event_type").as("node")).distinct()
      .tappedLocalCheckpoint()
    val n = nodes.count().toDouble
    var ranks = nodes.select(col("node"), lit(1.0 / n).as("rank"))
    for (_ <- 1 to 10) {
      ranks = wnorm
        .join(broadcast(ranks.withColumnRenamed("node", "src")), "src")
        .groupBy(col("dst"))
        .agg(sum((col("wt") * col("rank")).cast(DecimalType(38, 18)))
          .cast("double").as("contrib"))
        .select(col("dst").as("node"),
          (lit(0.15 / n) + lit(0.85) * col("contrib")).as("rank"))
    }
    ranks
  }

  /** Blocked Levenshtein near-dup scoring: candidate pairs share
    * (lang, exact char length, MINHASH BAND) — length because edit
    * distance ≥ length difference, and a one-hash MinHash of the word
    * set (min over md5(token), the `llm_minhash_*` hash family) as the
    * content band: near-identical short docs share their minimum-hash
    * word with probability ≈ their word-set Jaccard, while unrelated
    * docs collide at ~1/|vocab|. Only short documents (<120 chars)
    * enter, bounding the O(len²) DP cell count per pair.
    *
    * Scale: (lang, n_chars) alone is a FIXED-cardinality block key
    * (≲10 langs × 119 lengths), so Σ n_b² grew quadratically — the r12
    * sf1 bench measured 13× on 10× data. The band key's cardinality
    * grows with the corpus vocabulary, which is what keeps blocks O(1)
    * as the corpus grows; md5 keeps the DuckDB twin exact. The sketch
    * is a higher-order expression (array_min ∘ transform) — no
    * explode, no extra shuffle. */
  def llmEditDistance(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents").filter(col("n_chars") < 120)
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"),
        expr("array_min(transform(split(text, ' '), t -> md5(t)))")
          .as("band"))
    val a = d.toDF("doc_a", "text_a", "lang", "n_chars", "band")
    val b = d.toDF("doc_b", "text_b", "lang", "n_chars", "band")
    a.join(b, Seq("lang", "n_chars", "band"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        col("n_chars").as("len_chars"),
        levenshtein(col("text_a"), col("text_b")).cast("long").as("dist"),
        (levenshtein(col("text_a"), col("text_b")).cast("double") / col("n_chars"))
          .as("rel"))
  }

  /** Zipf rank-frequency fit over the corpus vocabulary: regress
    * ln(term frequency) on ln(rank) for the top-100 terms. The top-k
    * is a TakeOrderedAndProject (no global sort materializes the
    * whole vocabulary); the window that assigns ranks runs over ≤100
    * rows. Slope ≈ −1 is the classic Zipf signature; a corpus whose
    * slope drifts far from it is the standard red flag for boilerplate
    * or synthetic-text contamination in a training mix. */
  def llmZipf(s: SparkSession, dir: String): DataFrame = {
    Tables.sql(s, dir,
      """WITH tok AS (SELECT explode(split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT term, CAST(count(*) AS DOUBLE) AS tf FROM tok GROUP BY term),
        |top AS (SELECT term, tf FROM tf ORDER BY tf DESC, term LIMIT 100),
        |r AS (SELECT tf, row_number() OVER (ORDER BY tf DESC, term) AS rank FROM top)
        |SELECT regr_slope(ln(tf), ln(rank)) AS zipf_slope,
        |       regr_intercept(ln(tf), ln(rank)) AS zipf_icept,
        |       regr_r2(ln(tf), ln(rank)) AS zipf_r2,
        |       CAST(count(*) AS BIGINT) AS n_terms
        |FROM r""".stripMargin)
  }

  private def chi2Sql(table: String): String =
    s"""WITH c AS (SELECT lang, source, CAST(count(*) AS DOUBLE) AS o
       |           FROM $table GROUP BY 1, 2),
       |r AS (SELECT lang, sum(o) AS rt FROM c GROUP BY 1),
       |cl AS (SELECT source, sum(o) AS ct FROM c GROUP BY 1),
       |tot AS (SELECT sum(o) AS n FROM c),
       |grid AS (SELECT r.lang, cl.source, r.rt, cl.ct FROM r CROSS JOIN cl)
       |SELECT
       |  sum(pow(coalesce(c.o, 0) - g.rt * g.ct / t.n, 2)
       |      / (g.rt * g.ct / t.n)) AS chi2,
       |  CAST(((SELECT count(*) FROM r) - 1)
       |       * ((SELECT count(*) FROM cl) - 1) AS BIGINT) AS dof,
       |  CAST((SELECT n FROM tot) AS BIGINT) AS n
       |FROM grid g CROSS JOIN tot t
       |  LEFT JOIN c ON c.lang = g.lang AND c.source = g.source""".stripMargin

  /** Backward as-of join with a match tolerance (pandas
    * `merge_asof(tolerance=…)` semantics): the nearest preceding
    * signup counts only if it is within 2 hours of the error —
    * correct as a post-predicate because the backward as-of already
    * returns the LATEST preceding candidate, so if that one is out of
    * tolerance, every earlier one is too. Same single-shuffle
    * union-and-carry plan as `join_asof`. */
  def joinAsOfTolerance(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
    val errors = e.filter(col("event_type") === "error")
      .select("event_id", "user_id", "ts")
    val signups = e.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"))
    graft.operators.AsOf.leftAsOf(
        errors, signups, Seq("user_id"), "ts", "ts", "signup_ts")
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("error_at"),
        when(col("signup_ts") >= col("ts") - expr("INTERVAL 2 HOURS"),
          date_format(col("signup_ts"), "yyyy-MM-dd HH:mm:ss"))
          .as("signup_at"))
  }

  val queries: Seq[QueryDef] = Seq(
    QueryDef("join_cross", joinCross,
      """SELECT n_name, r_name,
        |  CAST(n_regionkey = r_regionkey AS INTEGER) AS is_home
        |FROM nation CROSS JOIN region""".stripMargin),
    QueryDef("win_ewma", winEwma,
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  list_reduce(list(CAST(value AS DOUBLE) ORDER BY ts, event_id),
        |              (acc, x) -> 0.3 * x + 0.7 * acc) AS ewma
        |FROM events GROUP BY user_id""".stripMargin),
    QueryDef("graph_pagerank", graphPagerank,
      """WITH RECURSIVE
        |eo AS (SELECT event_type,
        |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        |       FROM events),
        |edges AS (SELECT event_type AS src, nxt AS dst,
        |            CAST(count(*) AS DOUBLE) AS cnt
        |          FROM eo WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |w AS (SELECT src, dst, cnt / sum(cnt) OVER (PARTITION BY src) AS wt
        |      FROM edges),
        |nodes AS (SELECT DISTINCT event_type AS node FROM events),
        |pr(iter, node, rank) AS (
        |  SELECT 0, node, 1.0 / (SELECT count(*) FROM nodes) FROM nodes
        |  UNION ALL
        |  SELECT pr.iter + 1, w.dst,
        |         0.15 / (SELECT count(*) FROM nodes)
        |           + 0.85 * CAST(sum(CAST(pr.rank * w.wt AS DECIMAL(38, 18)))
        |                         AS DOUBLE)
        |  FROM pr JOIN w ON w.src = pr.node
        |  WHERE pr.iter < 10
        |  GROUP BY pr.iter, w.dst)
        |SELECT node, CAST(rank AS DOUBLE) AS rank FROM pr WHERE iter = 10""".stripMargin),
    QueryDef("llm_edit_distance", llmEditDistance,
      """WITH d0 AS (SELECT doc_id, text, lang, n_chars
        |            FROM documents WHERE n_chars < 120),
        |mh AS (SELECT doc_id, MIN(md5(tok)) AS band
        |       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |             FROM d0) GROUP BY 1),
        |d AS (SELECT d0.doc_id, d0.text, d0.lang, d0.n_chars, mh.band
        |      FROM d0 JOIN mh USING (doc_id))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  a.n_chars AS len_chars,
        |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist,
        |  CAST(levenshtein(a.text, b.text) AS DOUBLE) / a.n_chars AS rel
        |FROM d a JOIN d b
        |  ON a.lang = b.lang AND a.n_chars = b.n_chars AND a.band = b.band
        |   AND a.doc_id < b.doc_id""".stripMargin),
    QueryDef("llm_zipf", llmZipf,
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT term, CAST(count(*) AS DOUBLE) AS tf FROM tok GROUP BY term),
        |top AS (SELECT term, tf FROM tf ORDER BY tf DESC, term LIMIT 100),
        |r AS (SELECT tf, row_number() OVER (ORDER BY tf DESC, term) AS rank FROM top)
        |SELECT regr_slope(ln(tf), ln(rank)) AS zipf_slope,
        |       regr_intercept(ln(tf), ln(rank)) AS zipf_icept,
        |       regr_r2(ln(tf), ln(rank)) AS zipf_r2,
        |       CAST(count(*) AS BIGINT) AS n_terms
        |FROM r""".stripMargin),
    // Welch's unequal-variance two-sample t on purchase vs click event
    // values — the A/B significance primitive. Two grouped moments
    // (one scan, map-side combinable), then scalar algebra on a 1×1
    // cross join; var_samp's cross-engine drift is ~1e-12 relative,
    // absorbed by the harness's 6-decimal canonicalization.
    QueryDef.sql("agg_ttest_welch",
      """WITH g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |             avg(value) AS m, var_samp(value) AS v
        |           FROM events
        |           WHERE event_type IN ('purchase', 'click')
        |           GROUP BY event_type),
        |a AS (SELECT * FROM g WHERE event_type = 'purchase'),
        |b AS (SELECT * FROM g WHERE event_type = 'click')
        |SELECT a.n AS n_a, b.n AS n_b, a.m AS mean_a, b.m AS mean_b,
        |  (a.m - b.m) / sqrt(a.v / a.n + b.v / b.n) AS t_stat,
        |  pow(a.v / a.n + b.v / b.n, 2)
        |    / (pow(a.v / a.n, 2) / (a.n - 1) + pow(b.v / b.n, 2) / (b.n - 1))
        |    AS df_welch
        |FROM a CROSS JOIN b""".stripMargin),
    // Pearson chi-square independence test of the lang × source
    // contingency table — "is language mix independent of source?", the
    // standard stratification check before corpus mixing. The full
    // expected grid (row-totals × col-totals) is built so structurally
    // absent cells still contribute their expectation; every relation
    // after the first grouped pass is marginal-tiny.
    QueryDef.sql("agg_chi2", chi2Sql("documents")),
    QueryDef("join_asof_tolerance", joinAsOfTolerance,
      """WITH err AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |             FROM events WHERE event_type = 'error'),
        |     sig AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
        |             FROM events WHERE event_type = 'signup')
        |SELECT err.event_id, err.user_id,
        |  strftime(err.ts, '%Y-%m-%d %H:%M:%S') AS error_at,
        |  CASE WHEN sig.ts >= err.ts - INTERVAL 2 HOUR
        |       THEN strftime(sig.ts, '%Y-%m-%d %H:%M:%S') END AS signup_at
        |FROM err ASOF LEFT JOIN sig
        |  ON err.user_id = sig.user_id AND err.ts >= sig.ts""".stripMargin))
}
