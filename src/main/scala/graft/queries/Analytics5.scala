package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables
import graft.core.CkptTap._

/** Round-9 widening, fourth batch: market-basket association mining,
  * a bipartite degree census, two classical robust/parametric tests
  * (Theil-Sen slope, one-way ANOVA), CUSUM changepoint detection,
  * readability scoring, and a Benford first-digit audit.
  *
  * Determinism policy, per family:
  *   - `agg_market_basket` / `graph_degree_dist` / `agg_benford` stay
  *     in INTEGER arithmetic (co-occurrence counts, degrees, digit
  *     counts) until a single final division, so both engines agree
  *     bit-for-bit before canonicalization.
  *   - `agg_theil_sen` pins the daily revenue series through
  *     DECIMAL(18,2) (exact 2-decimal sums whose unscaled values fit
  *     a double, so BOTH engines' decimal→double casts are exact —
  *     at scale 18 DuckDB's cast can sit one ulp off); every pairwise slope is
  *     then one identical IEEE divide per pair, and both medians pick
  *     the explicit middle elements by row_number under INTEGER
  *     division (Spark `div`, DuckDB `//` — plain `/` is fractional
  *     in both dialects, and the two engines round a fractional
  *     index-cast differently: Spark truncates, DuckDB rounds).
  *   - `agg_anova` rescales the metric to O(1) magnitude BEFORE the
  *     sums-of-squares so the final 5-group double reduction carries
  *     ~1e-10 absolute error against the harness's 1e-6 round; the
  *     per-group sums of x and x² are DECIMAL-exact. F is
  *     scale-invariant, so the statistic is unchanged by the rescale.
  *   - `win_cusum` replays an identical IEEE fold on both engines
  *     (aggregate HOF here, recursive CTE in DuckDB — NOT
  *     list_reduce, whose struct accumulator is mutated
  *     field-by-field in DuckDB 1.0; see [[Analytics4.winHolt]]).
  *
  * Plan hygiene: every relation a census reads more than once (the
  * basket table, the daily series, the ANOVA group stats) is
  * localCheckpointed first — Spark inlines CTE references, so a
  * multi-referenced CTE re-executes its whole subtree per reference
  * (the [[Analytics4.graphTriangles]] lesson). The checkpointed
  * relations here are all small (≤ |days|, |brands|², |groups|).
  *
  * Reference framing: the stock pipeline's BigQuery warehouse
  * (dump_bigq.py:120-160) is where the reference would run exactly
  * this class of second-order analytics; none of these need more than
  * the declarative surface plus one checkpointed mid-relation.
  */
object Analytics5 {

  /** Brand-level market-basket association: for every unordered brand
    * pair co-occurring in an order, support counts and lift. The heavy
    * distributed pass is basket derivation (lineitem ⋈ broadcast part
    * → distinct (order, brand)) — executed ONCE and checkpointed; the
    * census reads it four times (pair self-join ×2, per-brand counts,
    * grand total). The pair join is an equi-join on the order key with
    * basket width bounded by |brands| = 25, so candidate generation is
    * O(orders × width²), never all-pairs — the same blocking argument
    * as the minhash band join. Counts stay integer; lift is the single
    * final division, with the cnt_a × cnt_b denominator computed in
    * DOUBLE — as int64 it would wrap silently (non-ANSI) once
    * per-brand order counts pass ~3e9, i.e. exactly the 100 TB
    * regime. */
  def aggMarketBasket(s: SparkSession, dir: String): DataFrame = {
    // part grows with the SF — unhinted, so the optimizer broadcasts
    // it only while its measured size allows. (This site is behind the
    // eager checkpoint and thus invisible to BroadcastCensusSpec —
    // one reason the census documents that blind spot.)
    //
    // r16: the pair census comes from IN-ROW expansion of the per-order
    // sorted brand array (basket width ≤ |brands| = 25), not a basket
    // self-join — the same counts with ONE shuffle (the groupBy ok)
    // instead of shuffling both self-join sides, and the brand census
    // (`c`) and order count (`n`) ride the same grouped relation
    // (guide §2.4). All censuses are exact integers; the oracle keeps
    // the self-join spelling.
    val orders = Tables.load(s, dir, "lineitem")
      .join(Tables.load(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("p_brand").as("brand"))
      .distinct()
      .groupBy("ok").agg(sort_array(collect_list(col("brand"))).as("bs"))
      .tappedLocalCheckpoint()
    val n = orders.agg(count(lit(1)).as("n_orders"))
    val c = orders.select(explode(col("bs")).as("brand"))
      .groupBy("brand").agg(count(lit(1)).as("cnt"))
    val p = orders.select(explode(expr(
        """flatten(transform(bs, (x, i) ->
          |  transform(slice(bs, i + 2, size(bs)),
          |    y -> struct(x AS brand_a, y AS brand_b))))""".stripMargin))
        .as("pr"))
      .groupBy(col("pr.brand_a").as("brand_a"),
        col("pr.brand_b").as("brand_b"))
      .agg(count(lit(1)).as("cnt_ab"))
      .filter(col("cnt_ab") >= 2)
    p.join(c.select(col("brand").as("brand_a"), col("cnt").as("ca")),
        "brand_a")
      .join(c.select(col("brand").as("brand_b"), col("cnt").as("cb")),
        "brand_b")
      .crossJoin(broadcast(n))
      .select(col("brand_a"), col("brand_b"), col("cnt_ab"),
        col("ca").cast("long").as("cnt_a"), col("cb").cast("long").as("cnt_b"),
        col("n_orders").cast("long").as("n_orders"),
        (col("cnt_ab").cast("double") * col("n_orders") /
          (col("ca").cast("double") * col("cb"))).as("lift"))
  }

  private def mbCensus(baskets: String): String =
    s"""n AS (SELECT count(DISTINCT ok) AS n_orders FROM $baskets),
       |c AS (SELECT brand, count(*) AS cnt FROM $baskets GROUP BY brand),
       |p AS (SELECT a.brand AS brand_a, b.brand AS brand_b, count(*) AS cnt_ab
       |      FROM $baskets a JOIN $baskets b
       |        ON a.ok = b.ok AND a.brand < b.brand
       |      GROUP BY 1, 2)
       |SELECT p.brand_a, p.brand_b, p.cnt_ab,
       |       CAST(ca.cnt AS BIGINT) AS cnt_a, CAST(cb.cnt AS BIGINT) AS cnt_b,
       |       CAST(n.n_orders AS BIGINT) AS n_orders,
       |       CAST(p.cnt_ab AS DOUBLE) * n.n_orders
       |         / (CAST(ca.cnt AS DOUBLE) * cb.cnt) AS lift
       |FROM p JOIN c ca ON ca.brand = p.brand_a
       |       JOIN c cb ON cb.brand = p.brand_b
       |       CROSS JOIN n
       |WHERE p.cnt_ab >= 2""".stripMargin

  private def degreeSql(table: String): String =
    s"""WITH deg AS (SELECT l_suppkey, count(DISTINCT l_partkey) AS degree
       |             FROM $table GROUP BY l_suppkey)
       |SELECT degree, count(*) AS n_suppliers
       |FROM deg GROUP BY degree""".stripMargin

  /** Theil-Sen estimator of the daily-revenue trend: the median of all
    * pairwise slopes between daily o_totalprice sums, plus the paired
    * median intercept. Robust to the outlier days OLS (agg_regression)
    * is dragged by. The distributed pass is one DECIMAL-pinned daily
    * aggregation, checkpointed because slope pairs, intercepts and the
    * day count all re-read it; the O(days²) pair relation (~2.9M pairs
    * over 7 years) is sized by the CALENDAR, not the row count — at
    * 100 TB days² is unchanged. Both explicit-middle medians (slopes,
    * intercepts) ride [[graft.operators.ScalableNtile.middleTwo]] —
    * histogram refinement: the pair relation is scanned but never
    * globally sorted or shuffled, only the median bucket (~n/1024
    * rows) is ranked (a single-task row_number over all 2.9M pairs
    * cost 4.3 s at sf0.1 and cannot scale out; the oracle keeps that
    * plain spelling — equal ranks select equal values, so tie order is
    * immaterial). The slope median is checkpointed (1 row) so the
    * intercept pass cannot re-run the pair census. */
  def aggTheilSen(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.sql(s, dir,
      """SELECT datediff(CAST(o_orderdate AS DATE), DATE '1992-01-01') AS x,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18, 2))) AS DOUBLE) AS y
        |FROM orders GROUP BY 1""".stripMargin)
      .tappedLocalCheckpoint()
    val p = daily.select(col("x").as("ax"), col("y").as("ay"))
      .join(daily.select(col("x").as("bx"), col("y").as("by")),
        col("bx") > col("ax"))
      .select(((col("by") - col("ay")) / (col("bx") - col("ax")))
        .as("slope"))
    val med = graft.operators.ScalableNtile
      .middleTwo(p, col("slope"), "ts_slope", "n_pairs")
      .tappedLocalCheckpoint()
    val ic = daily.crossJoin(broadcast(med.select("ts_slope")))
      .select((col("y") - col("ts_slope") * col("x")).as("icpt"))
    val im = graft.operators.ScalableNtile
      .middleTwo(ic, col("icpt"), "ts_intercept", "__nd")
      .select("ts_intercept")
    val days = daily.agg(count(lit(1)).as("n_days"))
    med.crossJoin(im).crossJoin(broadcast(days))
      .select("n_days", "n_pairs", "ts_slope", "ts_intercept")
  }

  /** One-sided CUSUM changepoint detector per user (reference value
    * k=55, alarm threshold h=250, reset-on-alarm): S_i = max(0,
    * S_{i-1} + x_i − k), alarm and reset when S crosses h. One grouped
    * sorted collect, then a sequential `aggregate` fold — level, peak
    * and alarm count ride in one struct accumulator. The DuckDB twin
    * replays the identical IEEE sequence as a recursive CTE (NOT
    * list_reduce — DuckDB 1.0 mutates struct accumulators
    * field-by-field, see [[Analytics4.winHolt]]'s note). */
  def winCusum(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("ts"), col("event_id"), col("value"))))
        .as("xs"))
      .select(col("user_id"), expr("transform(xs, x -> x.value)").as("vs"))
      .select(col("user_id"), size(col("vs")).cast("long").as("n_events"),
        expr("""aggregate(vs, named_struct('s', 0.0D, 'm', 0.0D, 'a', 0L),
                 (acc, x) -> named_struct(
                   's', CASE WHEN greatest(0.0D, acc.s + x - 55.0D) > 250.0D
                             THEN 0.0D ELSE greatest(0.0D, acc.s + x - 55.0D) END,
                   'm', greatest(acc.m, greatest(0.0D, acc.s + x - 55.0D)),
                   'a', acc.a + CASE WHEN greatest(0.0D, acc.s + x - 55.0D) > 250.0D
                                     THEN 1L ELSE 0L END))""").as("c"))
      .select(col("user_id"), col("n_events"),
        col("c.s").as("cusum_final"), col("c.m").as("cusum_max"),
        col("c.a").as("n_alarms"))

  /** Flesch reading ease + Flesch-Kincaid grade per document, from
    * three integer text censuses: whitespace words, [.!?]+ sentence
    * breaks (floor 1 — the fixture corpus is unpunctuated word soup,
    * so the floor binds everywhere and the formula degenerates to its
    * single-sentence branch; on punctuated text the same code is the
    * full statistic), and a vowel-group syllable heuristic floored at
    * one syllable PER WORD (sum of max(1, vowel groups in w) — the
    * standard Flesch rule; a global floor would differ on texts
    * mixing vowel-less and multi-syllable words). Pure projection —
    * zero shuffle, scan-bound at any scale; the divisions are the
    * only floating step and run in the same textual order on both
    * engines. */
  def textReadability(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_words"),
        greatest(lit(1L),
          size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))).cast("long"))
          .as("n_sents"),
        expr("""aggregate(split(lower(text), ' '), 0L, (acc, w) ->
                 acc + CAST(greatest(1, size(regexp_extract_all(w, '[aeiouy]+', 0))) AS BIGINT))""")
          .as("n_syll"))
      .select(col("doc_id"), col("n_words"), col("n_sents"), col("n_syll"),
        (lit(206.835) - lit(1.015) * (col("n_words") / col("n_sents"))
          - lit(84.6) * (col("n_syll") / col("n_words"))).as("flesch"),
        (lit(0.39) * (col("n_words") / col("n_sents"))
          + lit(11.8) * (col("n_syll") / col("n_words")) - lit(15.59)).as("fk_grade"))

  /** One-way ANOVA F test of order value across the five order
    * priorities. The metric is rescaled to O(1) (o_totalprice / 1e5)
    * so the sums-of-squares land at ~1e5 magnitude, where the final
    * 5-group double reduction's ~1e-10 error clears the harness's
    * 1e-6 round with digits to spare — F itself is scale-invariant.
    * Per-group Σx and Σx² ride DECIMAL(38,18), so the only floating
    * steps are per-group means and the 5-row combination. One
    * map-side-combined pass at any scale; the 5-row group relation is
    * checkpointed because the census reads it twice. */
  def aggAnova(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.sql(s, dir, anovaGroups("orders"))
      .tappedLocalCheckpoint()
    Tables.sql(s, dir, "WITH " + anovaCensus("graft_an_g"), "graft_an_g" -> g)
  }

  private def anovaGroups(table: String): String =
    s"""SELECT o_orderpriority AS grp, count(*) AS n,
       |  CAST(sum(CAST(o_totalprice / 100000.0 AS DECIMAL(38, 18))) AS DOUBLE) AS sx,
       |  CAST(sum(CAST((o_totalprice / 100000.0) * (o_totalprice / 100000.0)
       |                AS DECIMAL(38, 18))) AS DOUBLE) AS sxx
       |FROM $table GROUP BY 1""".stripMargin

  private def anovaCensus(g: String): String =
    s"""t AS (SELECT count(*) AS k, sum(n) AS n, sum(sx) AS tsx FROM $g),
       |b AS (SELECT sum(g.n * ((g.sx / g.n) - (t.tsx / t.n))
       |                  * ((g.sx / g.n) - (t.tsx / t.n))) AS ssb,
       |             sum(g.sxx - g.sx * g.sx / g.n) AS ssw,
       |             min(t.k) AS k, min(t.n) AS n
       |      FROM $g g CROSS JOIN t)
       |SELECT CAST(k AS BIGINT) AS k_groups, CAST(n AS BIGINT) AS n_rows,
       |       ssb AS ss_between, ssw AS ss_within,
       |       (ssb / (k - 1)) / (ssw / (n - k)) AS f_stat
       |FROM b""".stripMargin

  /** Benford first-significant-digit audit of l_extendedprice: digit
    * counts vs the log10(1+1/d) law, with each digit's chi-square
    * contribution. The digit comes from the decimal string rendering —
    * both engines print doubles in this range ([900, 105000), never
    * scientific notation) with the same leading digit — so the census
    * is pure integer; expected shares and chi² terms are the final
    * floating steps, computed identically from integers. One
    * map-side-combined 9-group aggregation at any scale. */
  def aggBenford(s: SparkSession, dir: String): DataFrame = {
    Tables.sql(s, dir,
      """WITH d AS (SELECT CAST(substring(CAST(l_extendedprice AS STRING), 1, 1) AS INT) AS digit
        |           FROM lineitem),
        |c AS (SELECT digit, count(*) AS n_obs FROM d GROUP BY digit),
        |w AS (SELECT digit, n_obs, sum(n_obs) OVER () AS n FROM c)
        |SELECT digit, n_obs, CAST(n_obs AS DOUBLE) / n AS p_obs,
        |       log10(1.0D + 1.0D / digit) AS p_benford,
        |       (n_obs - n * log10(1.0D + 1.0D / digit))
        |         * (n_obs - n * log10(1.0D + 1.0D / digit))
        |         / (n * log10(1.0D + 1.0D / digit)) AS chi2_term
        |FROM w""".stripMargin)
  }

  val queries: Seq[QueryDef] = Seq(
    QueryDef("agg_market_basket", aggMarketBasket,
      s"""WITH baskets AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
          |                 FROM lineitem JOIN part ON l_partkey = p_partkey),
          |""".stripMargin + mbCensus("baskets")),
    // Degree distribution of the supplier→part bipartite graph: each
    // supplier's degree is its distinct supplied-part count; the census
    // is the (degree, supplier-count) histogram. Two map-side-combined
    // aggregations over one scan — at 100 TB the first group-by is the
    // only real shuffle and the histogram relation is tiny.
    QueryDef.sql("graph_degree_dist", degreeSql("lineitem")),
    QueryDef("agg_theil_sen", aggTheilSen,
      """WITH daily AS MATERIALIZED (SELECT date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS x,
        |                 CAST(sum(CAST(o_totalprice AS DECIMAL(18, 2))) AS DOUBLE) AS y
        |               FROM orders GROUP BY 1),
        |p AS (SELECT (b.y - a.y) / (b.x - a.x) AS slope
        |      FROM daily a JOIN daily b ON b.x > a.x),
        |r AS (SELECT slope, row_number() OVER (ORDER BY slope) AS rn,
        |             count(*) OVER () AS np FROM p),
        |med AS MATERIALIZED (SELECT avg(slope) AS ts_slope, min(np) AS n_pairs FROM r
        |        WHERE rn IN (CAST((np + 1) // 2 AS BIGINT), CAST((np + 2) // 2 AS BIGINT))),
        |ic AS (SELECT d.y - m.ts_slope * d.x AS icpt FROM daily d CROSS JOIN med m),
        |ir AS (SELECT icpt, row_number() OVER (ORDER BY icpt) AS rn,
        |              count(*) OVER () AS nd FROM ic),
        |im AS (SELECT avg(icpt) AS ts_intercept FROM ir
        |       WHERE rn IN (CAST((nd + 1) // 2 AS BIGINT), CAST((nd + 2) // 2 AS BIGINT))),
        |days AS (SELECT count(*) AS n_days FROM daily)
        |SELECT CAST(days.n_days AS BIGINT) AS n_days,
        |       CAST(med.n_pairs AS BIGINT) AS n_pairs, med.ts_slope, im.ts_intercept
        |FROM med CROSS JOIN im CROSS JOIN days""".stripMargin),
    QueryDef("win_cusum", winCusum,
      """WITH RECURSIVE
        |v AS (SELECT user_id,
        |        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i,
        |        CAST(value AS DOUBLE) AS x FROM events),
        |n AS (SELECT user_id, max(i) AS n FROM v GROUP BY user_id),
        |f(user_id, i, s, m, a) AS (
        |  SELECT user_id, 0, CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), 0 FROM n
        |  UNION ALL
        |  SELECT f.user_id, f.i + 1,
        |    CASE WHEN greatest(0.0, f.s + v.x - 55.0) > 250.0
        |         THEN 0.0 ELSE greatest(0.0, f.s + v.x - 55.0) END,
        |    greatest(f.m, greatest(0.0, f.s + v.x - 55.0)),
        |    f.a + CASE WHEN greatest(0.0, f.s + v.x - 55.0) > 250.0 THEN 1 ELSE 0 END
        |  FROM f JOIN v ON v.user_id = f.user_id AND v.i = f.i + 1)
        |SELECT f.user_id, CAST(n.n AS BIGINT) AS n_events, f.s AS cusum_final,
        |       f.m AS cusum_max, CAST(f.a AS BIGINT) AS n_alarms
        |FROM f JOIN n ON n.user_id = f.user_id WHERE f.i = n.n""".stripMargin),
    QueryDef("text_readability", textReadability,
      """WITH c AS (SELECT doc_id,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |             greatest(CAST(1 AS BIGINT),
        |               CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)) AS n_sents,
        |             CAST(list_sum(list_transform(string_split(lower(text), ' '),
        |               w -> greatest(1, len(regexp_extract_all(w, '[aeiouy]+'))))) AS BIGINT) AS n_syll
        |           FROM documents)
        |SELECT doc_id, n_words, n_sents, n_syll,
        |       206.835 - 1.015 * (n_words / n_sents)
        |         - 84.6 * (n_syll / n_words) AS flesch,
        |       0.39 * (n_words / n_sents)
        |         + 11.8 * (n_syll / n_words) - 15.59 AS fk_grade
        |FROM c""".stripMargin),
    QueryDef("agg_anova", aggAnova,
      s"""WITH g AS (${anovaGroups("orders")}),
          |""".stripMargin + anovaCensus("g")),
    QueryDef("agg_benford", aggBenford,
      """WITH d AS (SELECT CAST(substring(CAST(l_extendedprice AS VARCHAR), 1, 1) AS INT) AS digit
        |           FROM lineitem),
        |c AS (SELECT digit, count(*) AS n_obs FROM d GROUP BY digit),
        |w AS (SELECT digit, CAST(n_obs AS BIGINT) AS n_obs,
        |             CAST(sum(n_obs) OVER () AS BIGINT) AS n FROM c)
        |SELECT digit, n_obs, CAST(n_obs AS DOUBLE) / n AS p_obs,
        |       log10(1.0 + 1.0 / digit) AS p_benford,
        |       (n_obs - n * log10(1.0 + 1.0 / digit))
        |         * (n_obs - n * log10(1.0 + 1.0 / digit))
        |         / (n * log10(1.0 + 1.0 / digit)) AS chi2_term
        |FROM w""".stripMargin))
}
