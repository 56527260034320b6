package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables
import graft.core.CkptTap._

/** Round-9 widening, third batch: the nonparametric-statistics and
  * graph-census tail, plus two per-row array-programming operators
  * (winnowing fingerprints, Holt smoothing) whose Spark plans are
  * embarrassingly parallel — no shuffle at all beyond the final
  * grouped emit.
  *
  * Determinism policy, per family:
  *   - `agg_ks_test` / `agg_mannwhitney` stay in INTEGER arithmetic
  *     (cumulative counts, rank sums scaled by 2) until the single
  *     final division, so both engines agree bit-for-bit before the
  *     harness even canonicalizes.
  *   - `text_winnowing` encodes (hash, position) into one BIGINT
  *     composite (`h * 100000 - p`) so "minimal hash, rightmost on
  *     ties" — the canonical winnowing rule (Schleimer et al.,
  *     SIGMOD'03) — is a plain integer `min`.
  *   - the fold operators (`win_holt`) replay the identical IEEE
  *     operation sequence on both engines, like [[Analytics3.winEwma]].
  *   - `events_acf` pins the daily sums through DECIMAL(38,18) so the
  *     series fed to `corr` is order-invariant and engine-identical;
  *     the remaining corr partial-merge drift is below the harness's
  *     6-decimal canonicalization.
  */
object Analytics4 {

  /** Winnowing document fingerprints (Schleimer et al., SIGMOD'03 —
    * the MOSS algorithm): k=3 token grams, guarantee window w=4,
    * select the minimal gram hash per window, rightmost on ties.
    * Encoding (h, p) as `h * 100000 - p` makes the rightmost-min rule
    * a single integer `array_min`; the whole selection runs INSIDE the
    * row (transform/slice/array_min over the gram array), so the plan
    * is a pure projection — zero shuffle, linear in corpus size, and
    * the per-doc fingerprint density is the theoretical 2/(w+1).
    * Graded per doc by gram count, fingerprint count, and the exact
    * integer fingerprint-set sum. */
  def textWinnowing(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .filter(size(col("ts")) >= 3)
      .select(col("doc_id"), (size(col("ts")) - 2).cast("long").as("n_grams"),
        expr("""transform(sequence(1, size(ts) - 2),
                 i -> cast(conv(substring(md5(concat_ws(' ',
                        element_at(ts, i), element_at(ts, i + 1),
                        element_at(ts, i + 2))), 1, 8), 16, 10) as bigint)
                      * 100000L - i)""").as("cs"))
      .select(col("doc_id"), col("n_grams"),
        expr("""array_distinct(transform(sequence(1, cast(n_grams as int)),
                 p -> array_min(slice(cs, greatest(1, p - 3),
                                      p - greatest(1, p - 3) + 1))))""")
          .as("fp"))
      .select(col("doc_id"), col("n_grams"),
        size(col("fp")).cast("long").as("n_fp"),
        expr("aggregate(fp, 0L, (a, x) -> a + x)").as("fp_sum"))

  // Grand totals come from unbounded window sums over the SAME
  // per-value relation as the CDFs — a separate totals CTE would make
  // Spark (which inlines CTE references) derive g from a SECOND raw
  // scan of the events table; this form scans once.
  private def ksSql(table: String): String =
    s"""WITH p AS (SELECT value, CAST(event_type = 'purchase' AS INT) AS ia
       |           FROM $table WHERE event_type IN ('purchase', 'click')),
       |g AS (SELECT value, sum(ia) AS ca, count(*) - sum(ia) AS cb
       |      FROM p GROUP BY value),
       |c AS (SELECT sum(ca) OVER (ORDER BY value) AS cuma,
       |             sum(cb) OVER (ORDER BY value) AS cumb,
       |             sum(ca) OVER () AS na, sum(cb) OVER () AS nb FROM g)
       |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       |  CAST(max(abs(cuma * nb - cumb * na)) AS DOUBLE)
       |    / (na * nb) AS d_stat,
       |  CAST(max(abs(cuma * nb - cumb * na)) AS DOUBLE) / (na * nb)
       |    * sqrt(CAST(na AS DOUBLE) * nb / (na + nb)) AS ks_z
       |FROM c GROUP BY na, nb""".stripMargin

  private def mwSql(table: String): String =
    s"""WITH p AS (SELECT value, CAST(event_type = 'purchase' AS INT) AS ia
       |           FROM $table WHERE event_type IN ('purchase', 'click')),
       |g AS (SELECT value, sum(ia) AS ca, count(*) - sum(ia) AS cb,
       |             count(*) AS cnt FROM p GROUP BY value),
       |w AS (SELECT ca, cb, cnt,
       |             sum(cnt) OVER (ORDER BY value) - cnt AS cless FROM g),
       |t AS (SELECT sum(ca) AS na, sum(cb) AS nb,
       |             sum(ca * (2 * cless + cnt + 1)) AS r2a,
       |             sum(cnt * cnt * cnt - cnt) AS ties
       |      FROM w)
       |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       |  CAST(r2a AS DOUBLE) / 2
       |    - CAST(na AS DOUBLE) * (na + 1) / 2 AS u_a,
       |  CAST(na AS DOUBLE) * nb
       |    - (CAST(r2a AS DOUBLE) / 2
       |       - CAST(na AS DOUBLE) * (na + 1) / 2) AS u_b,
       |  (CAST(r2a AS DOUBLE) / 2 - CAST(na AS DOUBLE) * (na + 1) / 2
       |     - CAST(na AS DOUBLE) * nb / 2)
       |    / sqrt(CAST(na AS DOUBLE) * nb / 12.0
       |           * ((na + nb + 1)
       |              - CAST(ties AS DOUBLE)
       |                / ((na + nb) * CAST(na + nb - 1 AS DOUBLE)))) AS mw_z
       |FROM t""".stripMargin

  /** Spearman rank correlation between document length in chars and in
    * whitespace tokens — the monotone-association check that is robust
    * to the heavy-tailed length distribution Pearson chokes on.
    * Average ranks (ties share the mean rank) via rank() + the tie
    * count, then Pearson corr on the ranks. Spark side: ranking ALL
    * documents is O(data), so both ranks ride
    * [[graft.operators.ScalableNtile.withRank]] (parallel bucket
    * decomposition, identical integers to the oracle's global rank());
    * tie counts come from broadcast value histograms instead of
    * PARTITION BY value windows. */
  def aggSpearman(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
      .select(col("n_chars").as("x"),
        size(split(col("text"), " ")).as("y"))
    val cx = d.groupBy("x").agg(count(lit(1)).as("cx"))
    val cy = d.groupBy("y").agg(count(lit(1)).as("cy"))
    val ranked = graft.operators.ScalableNtile.withRank(
      graft.operators.ScalableNtile.withRank(d, Nil, col("x"), "rkx"),
      Nil, col("y"), "rky")
    ranked.join(broadcast(cx), "x").join(broadcast(cy), "y")
      .select((col("rkx") + (col("cx") - 1) / 2.0).as("rx"),
        (col("rky") + (col("cy") - 1) / 2.0).as("ry"))
      .agg(corr(col("rx"), col("ry")).as("rho"),
        count(lit(1)).cast("long").as("n"))
  }

  /** Autocorrelation of the daily total event value at lags 1–7 — the
    * first time-series diagnostic on the reference's stock domain.
    * The heavy pass (raw rows → daily sums) is one distributed
    * aggregation, DECIMAL(38,18)-pinned so the series itself is
    * engine-identical; the 7-lag self-join then runs on the tiny daily
    * relation (broadcast, O(days) rows). */
  def eventsAcf(s: SparkSession, dir: String): DataFrame = {
    Tables.sql(s, dir,
      """WITH daily AS (SELECT CAST(date_trunc('DAY', ts) AS DATE) AS d,
        |                 CAST(sum(CAST(value AS DECIMAL(38, 18))) AS DOUBLE) AS s
        |               FROM events GROUP BY 1),
        |lags AS (SELECT explode(sequence(1, 7)) AS lag),
        |j AS (SELECT l.lag, a.s AS sa, b.s AS sb
        |      FROM lags l CROSS JOIN daily a
        |        JOIN daily b ON b.d = date_sub(a.d, l.lag))
        |SELECT lag, corr(sa, sb) AS acf, CAST(count(*) AS BIGINT) AS n_pairs
        |FROM j GROUP BY lag""".stripMargin)
  }

  /** Most-probable path between event types in ≤4 hops: Bellman-Ford
    * min-plus over edge costs −ln(wt) on the out-weight-normalized
    * transition graph ([[Analytics3.graphPagerank]]'s derivation).
    * The O(rows) edge derivation is the distributed half; the
    * frontier expansion runs on the O(|types|²) graph (checkpointed,
    * broadcast joins). Emits min cost and its probability per
    * ordered pair; the DuckDB oracle is the same enumeration as a
    * recursive CTE. */
  def graphBestPath(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events").select("user_id", "ts", "event_id", "event_type")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val edges = ev.withColumn("nxt", lead(col("event_type"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("event_type").as("src"), col("nxt").as("dst"))
      .agg(count(lit(1)).cast("double").as("cnt"))
      .withColumn("wt", col("cnt") / sum(col("cnt"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("src")))
      // parenthesized: unary minus binds OUTSIDE .as, so
      // -log(c).as("cost") would bury the alias inside the negation
      .select(col("src"), col("dst"), (-log(col("wt"))).as("cost"))
      .tappedLocalCheckpoint()
    val e2 = edges.select(col("src").as("m"), col("dst").as("dst2"),
      col("cost").as("c2"))
    var frontier = edges
    var best = edges
    for (_ <- 2 to 4) {
      // alias-qualified refs: frontier and e2 share the checkpointed
      // edges lineage, so bare col("cost") is ambiguous post-dedup
      frontier = frontier.alias("f").join(broadcast(e2.alias("e")),
          col("f.dst") === col("e.m"))
        .select(col("f.src").as("src"), col("e.dst2").as("dst"),
          (col("f.cost") + col("e.c2")).as("cost"))
      best = best.union(frontier)
    }
    best.groupBy("src", "dst").agg(min(col("cost")).as("cost"))
      .select(col("src"), col("dst"), col("cost"),
        exp(-col("cost")).as("prob"))
  }

  /** Triangle census of the international trade graph: nations a,b are
    * linked when their (customer-nation, supplier-nation) lineitem
    * flow exceeds 1.15× the mean pair flow (integer-exact threshold
    * compare). The heavy half is the 4-table star join deriving pair
    * flows from lineitem — distributed, broadcast dims; the census
    * then runs on the ≤ |nations|² edge relation. Emits per-nation
    * triangle participation counts. */
  def graphTriangles(s: SparkSession, dir: String): DataFrame = {
    // Materialize the undirected pair-flow relation (≤ |nations|² rows)
    // before the census: Spark inlines CTE references, so writing this
    // as one statement re-runs the heavy 4-table star join once per
    // edge alias (3×). Checkpointing caps the distributed pass at one
    // execution; the census runs on the tiny in-memory relation.
    val und = Tables.sql(s, dir,
      """SELECT least(na, nb) AS a, greatest(na, nb) AS b, sum(cnt) AS cnt
        |FROM (SELECT c.c_nationkey AS na, s.s_nationkey AS nb, count(*) AS cnt
        |      FROM lineitem l
        |        JOIN orders o ON l.l_orderkey = o.o_orderkey
        |        JOIN customer c ON o.o_custkey = c.c_custkey
        |        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |      WHERE c.c_nationkey <> s.s_nationkey
        |      GROUP BY 1, 2)
        |GROUP BY 1, 2""".stripMargin)
      .tappedLocalCheckpoint()
    Tables.sql(s, dir,
      """WITH tot AS (SELECT sum(cnt) AS t, count(*) AS np FROM graft_tri_und),
        |edges AS (SELECT a, b FROM graft_tri_und CROSS JOIN tot
        |          WHERE cnt * np * 100 > 115 * t),
        |tri AS (SELECT e1.a, e1.b, e2.b AS c
        |        FROM edges e1 JOIN edges e2 ON e2.a = e1.b
        |          JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b),
        |corners AS (SELECT a AS nk FROM tri UNION ALL SELECT b FROM tri
        |            UNION ALL SELECT c FROM tri)
        |SELECT n.n_name, CAST(count(*) AS BIGINT) AS n_tri
        |FROM corners JOIN nation n ON n.n_nationkey = corners.nk
        |GROUP BY n.n_name""".stripMargin, "graft_tri_und" -> und)
  }

  /** Holt double-exponential smoothing (α=0.3, β=0.1) of each user's
    * event-value series — level + trend, the forecasting step up from
    * [[Analytics3.winEwma]]'s single smoother. Same fold contract:
    * one grouped sorted collect, then a sequential `aggregate` whose
    * IEEE operation sequence DuckDB's `list_reduce` replays exactly
    * (level seeded at the first observation, trend at 0). */
  def winHolt(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("ts"), col("event_id"), col("value"))))
        .as("xs"))
      .select(col("user_id"), expr("transform(xs, x -> x.value)").as("vs"))
      .select(col("user_id"),
        size(col("vs")).cast("long").as("n_events"),
        expr("""aggregate(slice(vs, 2, size(vs) - 1),
                 named_struct('l', vs[0], 'b', 0.0D),
                 (acc, x) -> named_struct(
                   'l', 0.3D * x + 0.7D * (acc.l + acc.b),
                   'b', 0.1D * ((0.3D * x + 0.7D * (acc.l + acc.b)) - acc.l)
                        + 0.9D * acc.b))""").as("h"))
      .select(col("user_id"), col("n_events"),
        col("h.l").as("holt_level"), col("h.b").as("holt_trend"),
        (col("h.l") + col("h.b")).as("holt_fcst"))

  val queries: Seq[QueryDef] = Seq(
    QueryDef("text_winnowing", textWinnowing,
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |k AS (SELECT doc_id, len(ts) - 2 AS ng,
        |        list_transform(range(1, len(ts) - 1),
        |          i -> CAST('0x' || substr(md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]),
        |                    1, 8) AS BIGINT) * 100000 - i) AS cs
        |      FROM t WHERE len(ts) >= 3),
        |s AS (SELECT doc_id, ng,
        |        list_distinct(list_transform(range(1, ng + 1),
        |          p -> list_min(cs[CASE WHEN p > 3 THEN p - 3 ELSE 1 END : p]))) AS fp
        |      FROM k)
        |SELECT doc_id, CAST(ng AS BIGINT) AS n_grams,
        |       CAST(len(fp) AS BIGINT) AS n_fp,
        |       CAST(list_sum(fp) AS BIGINT) AS fp_sum
        |FROM s""".stripMargin),
    // Two-sample Kolmogorov-Smirnov D between the purchase and click
    // value distributions. One grouped pass builds per-distinct-value
    // class counts; a window cumsum gives both empirical CDFs; D is
    // max |cum_a*n_b - cum_b*n_a| / (n_a*n_b) — integer arithmetic
    // until the final division, so the statistic is bit-identical
    // across engines. The window has no PARTITION BY, but it runs over
    // the DISTINCT-value relation (already reduced by the group-by),
    // not the raw events — the same single-partition trade every exact
    // global quantile in the suite makes.
    QueryDef.sql("agg_ks_test", ksSql("events")),
    // Mann-Whitney U (rank-sum) between purchase and click values, with
    // the standard tie-corrected normal approximation. Average ranks
    // come from grouped per-value counts (rank-sum ×2 stays integer:
    // avg_rank = (2*cnt_less + cnt_eq + 1)/2), and the tie term
    // Σ(t³−t) is integer too — U and the variance numerator are exact
    // on both engines; only the final z division/sqrt is floating.
    QueryDef.sql("agg_mannwhitney", mwSql("events")),
    QueryDef("agg_spearman", aggSpearman,
      """WITH d AS (SELECT n_chars AS x, len(string_split(text, ' ')) AS y
        |           FROM documents),
        |r AS (SELECT
        |  rank() OVER (ORDER BY x) + (count(*) OVER (PARTITION BY x) - 1) / 2.0 AS rx,
        |  rank() OVER (ORDER BY y) + (count(*) OVER (PARTITION BY y) - 1) / 2.0 AS ry
        |FROM d)
        |SELECT corr(rx, ry) AS rho, CAST(count(*) AS BIGINT) AS n
        |FROM r""".stripMargin),
    QueryDef("events_acf", eventsAcf,
      """WITH daily AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
        |                 CAST(sum(CAST(value AS DECIMAL(38, 18))) AS DOUBLE) AS s
        |               FROM events GROUP BY 1),
        |lags AS (SELECT unnest(range(1, 8)) AS lag),
        |j AS (SELECT l.lag, a.s AS sa, b.s AS sb
        |      FROM lags l CROSS JOIN daily a
        |        JOIN daily b ON b.d = a.d - CAST(l.lag AS INTEGER))
        |SELECT CAST(lag AS INTEGER) AS lag, corr(sa, sb) AS acf,
        |       CAST(count(*) AS BIGINT) AS n_pairs
        |FROM j GROUP BY lag""".stripMargin),
    QueryDef("graph_best_path", graphBestPath,
      """WITH RECURSIVE
        |eo AS (SELECT event_type,
        |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        |       FROM events),
        |edges AS (SELECT event_type AS src, nxt AS dst,
        |            CAST(count(*) AS DOUBLE) AS cnt
        |          FROM eo WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |w AS (SELECT src, dst, cnt / sum(cnt) OVER (PARTITION BY src) AS wt
        |      FROM edges),
        |p(src, dst, cost, depth) AS (
        |  SELECT src, dst, -ln(wt), 1 FROM w
        |  UNION ALL
        |  SELECT p.src, w.dst, p.cost - ln(w.wt), p.depth + 1
        |  FROM p JOIN w ON w.src = p.dst WHERE p.depth < 4)
        |SELECT src, dst, min(cost) AS cost, exp(-min(cost)) AS prob
        |FROM p GROUP BY 1, 2""".stripMargin),
    QueryDef("graph_triangles", graphTriangles,
      """WITH pairs AS MATERIALIZED (
        |  SELECT c.c_nationkey AS na, s.s_nationkey AS nb, count(*) AS cnt
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |    JOIN customer c ON o.o_custkey = c.c_custkey
        |    JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  WHERE c.c_nationkey <> s.s_nationkey
        |  GROUP BY 1, 2),
        |und AS MATERIALIZED (SELECT least(na, nb) AS a, greatest(na, nb) AS b,
        |               sum(cnt) AS cnt
        |        FROM pairs GROUP BY 1, 2),
        |tot AS (SELECT sum(cnt) AS t, count(*) AS np FROM und),
        |edges AS MATERIALIZED (SELECT a, b FROM und CROSS JOIN tot
        |          WHERE cnt * np * 100 > 115 * t),
        |tri AS (SELECT e1.a, e1.b, e2.b AS c
        |        FROM edges e1 JOIN edges e2 ON e2.a = e1.b
        |          JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b),
        |corners AS (SELECT a AS nk FROM tri UNION ALL SELECT b FROM tri
        |            UNION ALL SELECT c FROM tri)
        |SELECT n.n_name, CAST(count(*) AS BIGINT) AS n_tri
        |FROM corners JOIN nation n ON n.n_nationkey = corners.nk
        |GROUP BY n.n_name""".stripMargin),
    // NOTE: not list_reduce — DuckDB 1.0 mutates a STRUCT accumulator
    // field-by-field during lambda evaluation, so the 'b' expression
    // would see the already-updated 'l' (verified numerically). The
    // recursive CTE replays the identical IEEE fold without a struct
    // accumulator.
    QueryDef("win_holt", winHolt,
      """WITH RECURSIVE
        |v AS (SELECT user_id,
        |        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i,
        |        CAST(value AS DOUBLE) AS x FROM events),
        |n AS (SELECT user_id, max(i) AS n FROM v GROUP BY user_id),
        |f(user_id, i, l, b) AS (
        |  SELECT user_id, 1, x, CAST(0.0 AS DOUBLE) FROM v WHERE i = 1
        |  UNION ALL
        |  SELECT f.user_id, f.i + 1, 0.3 * v.x + 0.7 * (f.l + f.b),
        |         0.1 * ((0.3 * v.x + 0.7 * (f.l + f.b)) - f.l) + 0.9 * f.b
        |  FROM f JOIN v ON v.user_id = f.user_id AND v.i = f.i + 1)
        |SELECT f.user_id, CAST(n.n AS BIGINT) AS n_events, f.l AS holt_level,
        |       f.b AS holt_trend, f.l + f.b AS holt_fcst
        |FROM f JOIN n ON n.user_id = f.user_id WHERE f.i = n.n""".stripMargin))
}
