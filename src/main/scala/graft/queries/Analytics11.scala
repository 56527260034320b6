package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables
import graft.core.CkptTap._

/** Round-10 session-2 widening: corpus-curation and graph-census
  * operators still absent from the 264-query surface.
  *
  *  - `llm_lang_temperature` — temperature-scaled multilingual
  *    sampling weights (Conneau et al. 2020's XLM-R α=0.3 rule, also
  *    mT5's mixing law): the standard knob that up-samples low-resource
  *    languages when composing a pre-training mixture.
  *  - `text_ttr` — per-document lexical diversity (type-token ratio +
  *    hapax fraction), a quality signal orthogonal to the Gopher rule
  *    battery (a 200-word doc of 5 distinct words passes Gopher's
  *    bounds but screams template spam here).
  *  - `agg_heaps_law` — Heaps'-law vocabulary-growth fit V(N) = K·N^β
  *    over TRIGRAM vocabulary (the fixture's unigram vocabulary
  *    saturates at 31 types — a rule that cannot fire would grade
  *    nothing, so the census runs on the n-gram space that actually
  *    grows). Corpus-level dedup health is routinely monitored this
  *    way: a β collapse signals large-scale duplication.
  *  - `graph_hits` — Kleinberg's HITS (2 synchronous unnormalized
  *    rounds) over the supplier→part bipartite graph. Kept INTEGER by
  *    skipping per-round normalization: with h₀=1, every subsequent
  *    score is a sum of integer scores, so both engines agree
  *    bit-for-bit and the ranking equals the normalized one (scores
  *    differ from normalized HITS by one global constant per round).
  *  - `graph_kcore` — synchronous k-core peeling (k=4, 8 rounds) of
  *    the thresholded nation trade graph: each round drops every node
  *    with fewer than 4 surviving neighbors; survivors + final degrees
  *    are the densest trading core. Same edge rule as
  *    `graph_triangles`/`graph_label_prop`; converges on the fixture
  *    in 1 round, and the fixed round count (not a data-dependent
  *    loop) keeps engine/oracle lockstep even pre-convergence.
  *
  * Determinism rules as in [[Analytics]]: integer counts until the
  * final division, int/int double divisions (IEEE-exact both engines),
  * doubles only where canon's 1e-6 rounding absorbs libm ulps
  * (LN/POW here), total orders under every LIMIT.
  */
object Analytics11 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---------------------------------------------------------------------
  // llm_lang_temperature
  // ---------------------------------------------------------------------

  /** Temperature-scaled language sampling weights: p_l = n_l / N over
    * whitespace tokens, q_l ∝ p_l^0.3, and the effective up/down-
    * sampling factor q_l / p_l. Token counts come from
    * `size(split(...))` summed per language — no explode, so the
    * corpus-sized pass is a pure map + one |langs|-row combine; the
    * two normalization constants ride along as broadcast one-row
    * cross joins. At 100 TB this is one of the cheapest queries in
    * the engine: a single map-side-combinable aggregation on a key
    * with bounded cardinality. */
  def llmLangTemperature(s: SparkSession, dir: String): DataFrame = {
    val perLang = t(s, dir, "documents")
      .groupBy("lang")
      .agg(sum(size(split(col("text"), " "))).cast("long").as("n_tokens"))
    val tot = perLang.agg(sum("n_tokens").as("nt"))
    val scored = perLang.crossJoin(broadcast(tot))
      .withColumn("p", col("n_tokens").cast("double") / col("nt"))
      .withColumn("qraw", pow(col("p"), lit(0.3)))
    val sq = scored.agg(sum("qraw").as("sq"))
    scored.crossJoin(broadcast(sq))
      .select(col("lang"), col("n_tokens"), col("p"),
        (col("qraw") / col("sq")).as("q"),
        (col("qraw") / col("sq") / col("p")).as("boost"))
  }

  // ---------------------------------------------------------------------
  // text_ttr
  // ---------------------------------------------------------------------

  /** Per-document type-token ratio and hapax-legomenon fraction,
    * computed entirely IN-ROW with array higher-order functions: the
    * token multiset never leaves its document, so the operator is a
    * pure projection — ZERO shuffle at any scale (the exploded
    * (doc_id, token) grouping spelling shuffles the whole corpus; the
    * in-row filter is O(types·tokens) per document, bounded by the
    * document length cap, and stays inside whole-stage codegen).
    * Counts stay integer; the two ratios are int/int double
    * divisions, IEEE-identical across engines. */
  def textTtr(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .select(col("doc_id"),
        size(col("ts")).cast("long").as("n_tokens"),
        size(array_distinct(col("ts"))).cast("long").as("n_types"),
        expr("""CAST(size(filter(array_distinct(ts),
          w -> size(filter(ts, x -> x = w)) = 1)) AS BIGINT)""")
          .as("n_hapax"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        col("n_hapax"),
        (col("n_types").cast("double") / col("n_tokens")).as("ttr"),
        (col("n_hapax").cast("double") / col("n_types")).as("hapax_frac"))

  // ---------------------------------------------------------------------
  // agg_heaps_law
  // ---------------------------------------------------------------------

  /** Heaps'-law fit over trigram vocabulary: V(N) at ten cumulative
    * doc-id prefixes, then the OLS slope/intercept of ln V on ln N
    * (β ≈ 0.81 on the fixture; K = exp(intercept)). The corpus pass
    * produces two SMALL relations — per-doc trigram counts (|docs|
    * rows) and per-type first-doc (|vocab| rows) — and the ten
    * thresholds broadcast onto each for the cumulative censuses, so
    * nothing corpus-sized is ever joined to anything but a 10-row
    * relation. All censuses are integer; LN/regr land inside canon's
    * 1e-6 rounding. The prefix variable is doc_id order — at 100 TB
    * one would use ingestion order or a hash order, same plan. */
  def aggHeapsLaw(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
    val tri = d.select(col("doc_id"), explode(expr(
      """CASE WHEN size(ts) >= 3
        |  THEN transform(sequence(1, size(ts) - 2),
        |         i -> concat_ws(' ', ts[i-1], ts[i], ts[i+1]))
        |  ELSE array() END""".stripMargin)).as("g"))
    val perDoc = tri.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val firstDoc = tri.groupBy("g").agg(min("doc_id").as("fd"))
    val mx = d.agg(max("doc_id").as("m"))
    val th = s.range(1, 11).toDF("i").crossJoin(broadcast(mx))
      .select(col("i"), expr("m * i DIV 10").as("cut"))
    val nn = broadcast(th).join(perDoc, col("doc_id") <= col("cut"))
      .groupBy("i").agg(sum("n").cast("long").as("nn"))
    val vv = broadcast(th).join(firstDoc, col("fd") <= col("cut"))
      .groupBy("i").agg(count(lit(1)).as("vv"))
    nn.join(vv, "i")
      .agg(
        regr_slope(log(col("vv").cast("double")),
          log(col("nn").cast("double"))).as("beta"),
        exp(regr_intercept(log(col("vv").cast("double")),
          log(col("nn").cast("double")))).as("k"),
        max("nn").as("n_total"), max("vv").as("v_total"))
  }

  // ---------------------------------------------------------------------
  // graph_hits
  // ---------------------------------------------------------------------

  /** Two unnormalized HITS rounds over distinct supplier→part edges:
    * a₁(p) = indegree, h₁(s) = Σ a₁ over s's parts, a₂(p) = Σ h₁ over
    * p's suppliers; top 15 authorities under the (score desc, partkey)
    * total order. Each round is one equi-join on a bounded key plus a
    * map-side-combinable sum — two shuffles total beyond the distinct.
    * Integer arithmetic throughout (see object scaladoc) so there is
    * no float-merge-order hazard in the ranking. */
  def graphHits(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "lineitem")
      .select(col("l_suppkey").as("s"), col("l_partkey").as("p"))
      .distinct()
    val a1 = e.groupBy("p").agg(count(lit(1)).as("a"))
    val h1 = e.join(a1, "p").groupBy("s").agg(sum("a").as("h"))
    val a2 = e.join(h1, "s").groupBy("p").agg(sum("h").as("authority"))
    a2.orderBy(col("authority").desc, col("p"))
      .limit(15)
      .select(col("p").cast("long").as("p_partkey"),
        col("authority").cast("long").as("authority"))
  }

  // ---------------------------------------------------------------------
  // graph_kcore
  // ---------------------------------------------------------------------

  /** k=4 core of the thresholded nation trade graph via 8 synchronous
    * peel rounds. The scale-heavy pass (4-table star → symmetrized
    * edge list) runs once, collapsed to one partition and
    * checkpointed exactly as in [[Analytics10.graphLabelProp]]; each
    * peel round is two semi-join-shaped joins + one count on the
    * ≤2·|nations|² relation, re-checkpointed so the plan stays linear
    * in rounds (the survivor set is referenced twice per round —
    * without the checkpoint the lineage doubles every round). Output:
    * surviving nations with their within-core degree. */
  def graphKcore(s: SparkSession, dir: String): DataFrame = {
    Seq("lineitem", "orders", "customer", "supplier")
      .foreach(n => Tables.load(s, dir, n)
        .createOrReplaceTempView("graft_kc_" + n))
    val sym = s.sql(
      """WITH pair AS (
        |  SELECT c.c_nationkey AS na, s.s_nationkey AS nb, count(*) AS cnt
        |  FROM graft_kc_lineitem l
        |    JOIN graft_kc_orders o ON l.l_orderkey = o.o_orderkey
        |    JOIN graft_kc_customer c ON o.o_custkey = c.c_custkey
        |    JOIN graft_kc_supplier s ON l.l_suppkey = s.s_suppkey
        |  WHERE c.c_nationkey <> s.s_nationkey
        |  GROUP BY 1, 2),
        |und AS (SELECT least(na, nb) AS a, greatest(na, nb) AS b,
        |          sum(cnt) AS cnt
        |        FROM pair GROUP BY 1, 2),
        |tot AS (SELECT sum(cnt) AS t, count(*) AS np FROM und),
        |edges AS (SELECT a, b FROM und CROSS JOIN tot
        |          WHERE cnt * np * 100 > 115 * t)
        |SELECT a AS src, b AS dst FROM edges
        |UNION ALL SELECT b, a FROM edges""".stripMargin)
      .coalesce(1)
      .tappedLocalCheckpoint()
    def coreDeg(alive: DataFrame): DataFrame =
      sym.join(alive.withColumnRenamed("nk", "src"), "src")
        .join(alive.withColumnRenamed("nk", "dst"), "dst")
        .groupBy("src").agg(count(lit(1)).as("d"))
    var alive = sym.select(col("src").as("nk")).distinct()
      .coalesce(1).tappedLocalCheckpoint()
    // Fixpoint early-exit: each round's alive set is a SUBSET of the
    // previous (coreDeg only emits nodes already in alive), so an
    // unchanged count means an unchanged set and every further round
    // is the identity — the result after k converged rounds is
    // bit-identical to the fixed-8 loop. The count is a one-partition
    // read of the frame the round just materialized anyway; the 8-
    // round cap stays as the worst-case bound (peeling at most one
    // shell per round).
    var aliveCount = alive.count()
    var converged = false
    for (_ <- 1 to 8 if !converged) {
      alive = coreDeg(alive)
        .filter(col("d") >= 4)
        .select(col("src").as("nk"))
        .coalesce(1).tappedLocalCheckpoint()
      val c = alive.count()
      converged = c == aliveCount
      aliveCount = c
    }
    coreDeg(alive).select(col("src").cast("long").as("nk"),
      col("d").cast("long").as("deg"))
  }

  // agg_kaplan_meier
  // ---------------------------------------------------------------------

  /** Kaplan-Meier survival curve for time-to-first-purchase with a
    * fixed 48-hour administrative censoring horizon: per user, the
    * hours from their first event to their first purchase (censored at
    * 48 h when the purchase is later or absent — both censoring causes
    * fire on the fixture: 111 events / 39 censored at sf0.01). The
    * estimator Ŝ(t) = Π_{tᵢ≤t} (1 − dᵢ/nᵢ) is computed as
    * exp(Σ ln(…)) over the event-time relation, whose size is bounded
    * by the horizon (≤49 rows) — the per-user pass is two grouped
    * aggregations and a left join, all map-side combinable, and the
    * unpartitioned window only ever sees the bounded relation. Hour
    * arithmetic is truncate-then-subtract on epoch seconds (identical
    * to DuckDB's second-boundary count), so durations are integers. */
  def aggKaplanMeier(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val u = ev.groupBy("user_id").agg(min("ts").as("f"))
    val p = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min("ts").as("fp"))
    val hours = expr(
      "(unix_timestamp(fp) - unix_timestamp(f)) DIV 3600")
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
        exp(sum(log(lit(1.0) -
          col("d_events").cast("double") / col("n_risk"))).over(wAsc))
          .as("s"))
  }

  // ---------------------------------------------------------------------
  // agg_poisson_bootstrap
  // ---------------------------------------------------------------------

  /** Bootstrap confidence interval for the mean order value via the
    * POISSON bootstrap (Chamandy et al. / Kleiner et al.'s
    * streaming-friendly spelling): instead of drawing n rows with
    * replacement — which needs global coordination — every row gets an
    * independent Poisson(1) weight per replicate, so the whole
    * resample is one map over the data and B partial aggregations.
    * That is THE scalable bootstrap: at 100 TB each replicate is a
    * map-side-combinable weighted sum, no resampling shuffle exists,
    * and B=32 replicates ride one pass through the scan.
    *
    * Determinism: the Poisson draw inverts the CDF on a 16-bit
    * lattice — u16 = first 4 hex digits of md5(orderkey ':' b) —
    * against integer thresholds ⌊CDF·65536⌋, so weights are
    * integer-exact and oracle-reproducible (the detU device from
    * [[LlmText]], keyed per replicate). Prices sum as DECIMAL(18,2);
    * the CI bounds are the 2nd-smallest / 2nd-largest replicate mean
    * (explicit order statistics ≈ 3%/97% — no engine percentile
    * interpolation in the graded path). */
  def aggPoissonBootstrap(s: SparkSession, dir: String): DataFrame = {
    val B = 32
    // One md5 feeds EIGHT draws (its 32 hex digits = 8 u16 lattice
    // points), so the hash count is B/8 per row, not B — md5 is the
    // whole cost of this query at bench scale (12.8 s → ~2 s at
    // sf0.1 for B=32).
    val rep = t(s, dir, "orders")
      .select(col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      .select(col("o_orderkey"), col("price"),
        explode(sequence(lit(0), lit(B / 8 - 1))).as("g"))
      .withColumn("h32",
        md5(concat(col("o_orderkey").cast("string"), lit(":"),
          col("g").cast("string"))))
    // The md5's eight draws are decoded as COLUMNS of the g-row, not
    // by exploding 8×: the previous shape materialized B/4·n unsafe
    // rows and ran the partial aggregation over all of them where the
    // same 16 sums ride the un-exploded scan (same total buffer
    // updates, none of the row-amplification machinery). Decoding
    // takes ONE base-16 conv per EIGHT hex digits (u32) and splits it
    // div/mod 2¹⁶ — half the conv calls of per-draw substr parsing,
    // bit-identical u16s (fixed-width hex is positional). The oracle
    // keeps the explicit per-draw digit arithmetic: it grades VALUES,
    // not spelling. Replicate sums are per (g, draw) cell — the same
    // row subsets the per-b groupBy summed, in the same exact DECIMAL
    // arithmetic — stacked to (b, m) AFTER aggregation (32 rows).
    val withW = (0 until 8).foldLeft(rep) { (d, j) =>
      val u32 = conv(substring(col("h32"), (j / 2) * 8 + 1, 8), 16, 10)
        .cast("long")
      val u16 = (if (j % 2 == 0) floor(u32 / 65536L) else u32 % 65536L)
        .cast("int")
      d.withColumn(s"u$j", u16)
        .withColumn(s"w$j", expr(
          s"""CASE WHEN u$j < 24109 THEN 0 WHEN u$j < 48218 THEN 1
             |     WHEN u$j < 60273 THEN 2 WHEN u$j < 64291 THEN 3
             |     WHEN u$j < 65296 THEN 4 WHEN u$j < 65497 THEN 5
             |     WHEN u$j < 65530 THEN 6 ELSE 7 END""".stripMargin))
    }
    // Weighted sums in integer CENTS (long), not decimal: the 2-dec
    // price ×100 is an exact long and Σ(w·cents) can't overflow below
    // ~1e18 total cents, so the 16 hash-agg buffers update as
    // primitive longs instead of overflow-checked decimals. The mean
    // converts back through ONE exact decimal ÷100 on the 32 result
    // rows — double(decimal(Σ/100)) is the identical correctly-
    // rounded value the old decimal-sum path cast, at every scale.
    val aggCols = (0 until 8).flatMap(j => Seq(
      sum(col(s"w$j") * col("cents")).as(s"sp$j"),
      sum(col(s"w$j")).as(s"sw$j")))
    val stackExpr = (0 until 8).map(j => s"$j, sp$j, sw$j")
      .mkString("stack(8, ", ", ", ") AS (j, sp, sw)")
    val means = withW
      .withColumn("cents", (col("price") * 100).cast("long"))
      .groupBy("g").agg(aggCols.head, aggCols.tail: _*)
      .select(col("g"), expr(stackExpr))
      .select((col("g") * 8 + col("j")).as("b"),
        ((col("sp").cast("decimal(38,0)") / lit(100)).cast("double") /
          col("sw").cast("double")).as("m"))
    val wAsc = org.apache.spark.sql.expressions.Window
      .orderBy(col("m"), col("b"))
    val ranked = means.withColumn("rn", row_number().over(wAsc))
    val est = t(s, dir, "orders")
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
        / count(lit(1))).as("est"))
    est.crossJoin(broadcast(
        ranked.filter(col("rn") === 2).select(col("m").as("ci_lo"))))
      .crossJoin(broadcast(
        ranked.filter(col("rn") === B - 1).select(col("m").as("ci_hi"))))
      .select(col("est"), col("ci_lo"), col("ci_hi"),
        lit(B.toLong).as("n_replicates"))
  }

  // ---------------------------------------------------------------------
  // graph_closeness
  // ---------------------------------------------------------------------

  /** Harmonic closeness centrality (≤4 hops) of the thresholded
    * nation trade graph: BFS shortest-path distances by frontier
    * expansion on the checkpointed ≤2·|nations|² edge list, then
    * H(u) = c₁ + c₂/2 + c₃/3 + c₄/4 over the INTEGER per-distance
    * counts — the harmonic form handles unreachable pairs without a
    * convention (they contribute 0), and evaluating the fixed
    * four-term expression over integer counts leaves no float
    * merge-order anywhere. The heavy star-join pass runs once;
    * each BFS round is a broadcast-sized join on the tiny graph. */
  def graphCloseness(s: SparkSession, dir: String): DataFrame = {
    Seq("lineitem", "orders", "customer", "supplier")
      .foreach(n => Tables.load(s, dir, n)
        .createOrReplaceTempView("graft_cl_" + n))
    val sym = s.sql(
      """WITH pair AS (
        |  SELECT c.c_nationkey AS na, s.s_nationkey AS nb, count(*) AS cnt
        |  FROM graft_cl_lineitem l
        |    JOIN graft_cl_orders o ON l.l_orderkey = o.o_orderkey
        |    JOIN graft_cl_customer c ON o.o_custkey = c.c_custkey
        |    JOIN graft_cl_supplier s ON l.l_suppkey = s.s_suppkey
        |  WHERE c.c_nationkey <> s.s_nationkey
        |  GROUP BY 1, 2),
        |und AS (SELECT least(na, nb) AS a, greatest(na, nb) AS b,
        |          sum(cnt) AS cnt
        |        FROM pair GROUP BY 1, 2),
        |tot AS (SELECT sum(cnt) AS t, count(*) AS np FROM und),
        |edges AS (SELECT a, b FROM und CROSS JOIN tot
        |          WHERE cnt * np * 100 > 115 * t)
        |SELECT a AS src, b AS dst FROM edges
        |UNION ALL SELECT b, a FROM edges""".stripMargin)
      .coalesce(1)
      .tappedLocalCheckpoint()
    var frontier = sym.select(col("src"), col("dst").as("v"),
      lit(1).as("d"))
    var dist = frontier
    for (r <- 2 to 4) {
      frontier = frontier.alias("f")
        .join(broadcast(sym.alias("e")), col("f.v") === col("e.src"))
        .select(col("f.src").as("src"), col("e.dst").as("v"),
          lit(r).as("d"))
        .filter(col("src") =!= col("v"))
      dist = dist.union(frontier)
    }
    dist.groupBy("src", "v").agg(min("d").as("d"))
      .groupBy("src")
      .agg(sum(when(col("d") === 1, 1L).otherwise(0L)).as("c1"),
        sum(when(col("d") === 2, 1L).otherwise(0L)).as("c2"),
        sum(when(col("d") === 3, 1L).otherwise(0L)).as("c3"),
        sum(when(col("d") === 4, 1L).otherwise(0L)).as("c4"))
      .select(col("src").cast("long").as("nk"), col("c1"), col("c2"),
        col("c3"), col("c4"),
        (col("c1") + col("c2") * 0.5 +
          col("c3").cast("double") / 3.0 + col("c4") * 0.25)
          .as("harmonic"))
  }

  // ---------------------------------------------------------------------
  // win_garch
  // ---------------------------------------------------------------------

  /** GARCH(1,1) conditional-variance fold per user over the event-value
    * series (ω=2, α=0.1, β=0.85 — long-run variance ω/(1−α−β)=40;
    * seeded at σ²=25 on the first observation): σ²ₜ = ω + α·rₜ₋₁² +
    * β·σ²ₜ₋₁ with rₜ the series first difference. Same shape as the
    * [[Analytics6.winKalman]] fold: one sequential IEEE pass inside
    * the row via the aggregate HOF, replayed by the oracle as a
    * recursive CTE — each user's state is two doubles, the
    * one-pass streaming-volatility shape. */
  def winGarch(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("ts"), col("event_id"),
        col("value")))).as("xs"))
      .select(col("user_id"), expr("transform(xs, x -> x.value)").as("vs"))
      .select(col("user_id"), size(col("vs")).cast("long").as("n_events"),
        expr("""aggregate(slice(vs, 2, size(vs) - 1),
                 named_struct('prev', vs[0], 's2', 25.0D),
                 (acc, z) -> named_struct(
                   'prev', z,
                   's2', 2.0D + 0.1D * (z - acc.prev) * (z - acc.prev)
                         + 0.85D * acc.s2))""").as("f"))
      .select(col("user_id"), col("n_events"),
        col("f.s2").as("garch_var"), sqrt(col("f.s2")).as("garch_vol"))

  // ---------------------------------------------------------------------
  // agg_hurst
  // ---------------------------------------------------------------------

  /** Rescaled-range (R/S) Hurst exponent of the daily-revenue series:
    * consecutive blocks of n ∈ {8, 16, 32} days, per block
    * R = max−min of the cumulative mean-deviation walk and
    * S = population σ, then H = the log-log slope of the mean R/S
    * against n (H≈0.5 ⇒ no long memory; the long-memory diagnostic
    * finance and traffic analysis run at scale). Shared census text:
    * daily sums ride DECIMAL(18,2) before one double cast; the
    * deviation walk is an ORDERED window cumsum (sequential, so both
    * engines replay one IEEE order); zero-variance blocks are CASEd
    * out rather than divided by. The day index is a row_number over
    * the tiny daily relation — everything after the first aggregation
    * is O(days), not O(rows). */
  def aggHurst(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("graft_hu_orders")
    s.sql("WITH " + hurstCensus("graft_hu_orders", "DIV"))
  }

  private def hurstCensus(orders: String, intdiv: String): String =
    s"""drev AS (SELECT o_orderdate AS d,
       |           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
       |                AS DOUBLE) AS rev
       |         FROM $orders GROUP BY 1),
       |idx AS (SELECT rev, row_number() OVER (ORDER BY d) AS i FROM drev),
       |sizes AS (SELECT 8 AS n UNION ALL SELECT 16 UNION ALL SELECT 32),
       |blk AS (SELECT sizes.n, (i - 1) $intdiv sizes.n AS b, i, rev
       |        FROM idx CROSS JOIN sizes),
       |fb AS (SELECT n, b, SUM(rev) AS sr FROM blk GROUP BY 1, 2
       |       HAVING COUNT(*) = n),
       |dv AS (SELECT blk.n, blk.b, blk.i, blk.rev - fb.sr / blk.n AS dev
       |       FROM blk JOIN fb ON blk.n = fb.n AND blk.b = fb.b),
       |z AS (SELECT n, b, dev,
       |        SUM(dev) OVER (PARTITION BY n, b ORDER BY i) AS cz
       |      FROM dv),
       |rs AS (SELECT n, b,
       |         CASE WHEN SUM(dev * dev) > 0
       |              THEN (MAX(cz) - MIN(cz)) / SQRT(SUM(dev * dev) / n)
       |         END AS rs
       |       FROM z GROUP BY n, b),
       |pts AS (SELECT n, AVG(rs) AS mrs FROM rs GROUP BY n)
       |SELECT regr_slope(LN(mrs), LN(CAST(n AS DOUBLE))) AS h,
       |  MAX(CASE WHEN n = 8 THEN mrs END) AS rs_8,
       |  MAX(CASE WHEN n = 16 THEN mrs END) AS rs_16,
       |  MAX(CASE WHEN n = 32 THEN mrs END) AS rs_32
       |FROM pts""".stripMargin

  // ---------------------------------------------------------------------
  // win_seasonal_decompose
  // ---------------------------------------------------------------------

  /** Classical additive seasonal decomposition of daily revenue:
    * trend = centered 7-day moving average (null until the window is
    * full — partial-edge trends are the textbook artifact), seasonal =
    * per-day-of-week mean of the detrended series, residual = the
    * rest. The corpus-sized pass is the one daily aggregation
    * (DECIMAL sums, checkpointed); everything after is O(days).
    * Spark's 1-based dayofweek is aligned to DuckDB's 0-based as in
    * [[Analytics8.aggSeasonality]]; the census text is shared, with
    * only the date-format spelling parameterized.
    *
    * Determinism: EVERY cross-row accumulation stays DECIMAL (exact,
    * association-order-free — a double window sum differs between
    * Spark's frame scan and DuckDB's segment tree, and a double
    * per-dow AVG varies with Spark's own partial-merge order; the sf1
    * gate caught a resid whose round-6 digit flipped on exactly that
    * wobble). Doubles appear only where both engines hold bit-identical
    * operands: trend = exact 7-day decimal sum cast once, seasonal =
    * exact decimal sum of the (identical-double) detrended values cast
    * once over an integer count, resid = three identical doubles. */
  def winSeasonalDecompose(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("graft_sd_orders")
    s.sql(
      """SELECT CAST(o_orderdate AS DATE) AS d,
        |       dayofweek(CAST(o_orderdate AS DATE)) - 1 AS dow,
        |       SUM(CAST(o_totalprice AS DECIMAL(18, 2))) AS rev_d
        |FROM graft_sd_orders GROUP BY 1, 2""".stripMargin)
      .tappedLocalCheckpoint()
      .createOrReplaceTempView("graft_sd_daily")
    s.sql("WITH " + decomposeCensus("graft_sd_daily",
      "date_format(d, 'yyyy-MM-dd')"))
  }

  private def decomposeCensus(daily: String, dateStr: String): String =
    s"""tr AS (SELECT d, dow, CAST(rev_d AS DOUBLE) AS rev,
       |         CASE WHEN COUNT(*) OVER w7 = 7
       |              THEN CAST(SUM(rev_d) OVER w7 AS DOUBLE) / 7
       |         END AS trend
       |       FROM $daily
       |       WINDOW w7 AS (ORDER BY d
       |                     ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
       |se AS (SELECT dow,
       |         CAST(SUM(CAST(rev - trend AS DECIMAL(28, 10))) AS DOUBLE)
       |           / COUNT(*) AS seasonal
       |       FROM tr WHERE trend IS NOT NULL GROUP BY dow)
       |SELECT $dateStr AS day, rev, trend, se.seasonal,
       |  CASE WHEN trend IS NOT NULL
       |       THEN rev - trend - se.seasonal END AS resid
       |FROM tr JOIN se ON tr.dow = se.dow""".stripMargin

  /** Shared star-join + threshold + symmetrize text for the nation
    * graph oracles (identical to the graph_triangles family). */
  private[queries] val symCte: String =
    """pair AS (SELECT c.c_nationkey AS na, s.s_nationkey AS nb,
      |           count(*) AS cnt
      |         FROM lineitem l
      |           JOIN orders o ON l.l_orderkey = o.o_orderkey
      |           JOIN customer c ON o.o_custkey = c.c_custkey
      |           JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |         WHERE c.c_nationkey <> s.s_nationkey
      |         GROUP BY 1, 2),
      |und AS (SELECT least(na, nb) AS a, greatest(na, nb) AS b,
      |          sum(cnt) AS cnt
      |        FROM pair GROUP BY 1, 2),
      |tot AS (SELECT sum(cnt) AS t, count(*) AS np FROM und),
      |edges AS (SELECT a, b FROM und CROSS JOIN tot
      |          WHERE cnt * np * 100 > 115 * t),
      |sym AS (SELECT a AS src, b AS dst FROM edges
      |        UNION ALL SELECT b, a FROM edges)""".stripMargin

  val queries: Seq[QueryDef] = Seq(
    QueryDef("win_seasonal_decompose", winSeasonalDecompose,
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
         |                 dayofweek(CAST(o_orderdate AS DATE)) AS dow,
         |                 SUM(CAST(o_totalprice AS DECIMAL(18, 2))) AS rev_d
         |               FROM orders GROUP BY 1, 2),
         |""".stripMargin +
        decomposeCensus("daily", "strftime(d, '%Y-%m-%d')")),
    QueryDef("win_garch", winGarch,
      """WITH RECURSIVE
        |v AS (SELECT user_id,
        |        row_number() OVER (PARTITION BY user_id
        |                           ORDER BY ts, event_id) AS i,
        |        CAST(value AS DOUBLE) AS x FROM events),
        |n AS (SELECT user_id, max(i) AS n FROM v GROUP BY user_id),
        |f(user_id, i, prev, s2) AS (
        |  SELECT user_id, 1, x, CAST(25.0 AS DOUBLE) FROM v WHERE i = 1
        |  UNION ALL
        |  SELECT f.user_id, f.i + 1, v.x,
        |    2.0 + 0.1 * (v.x - f.prev) * (v.x - f.prev) + 0.85 * f.s2
        |  FROM f JOIN v ON v.user_id = f.user_id AND v.i = f.i + 1)
        |SELECT f.user_id, CAST(n.n AS BIGINT) AS n_events,
        |       f.s2 AS garch_var, SQRT(f.s2) AS garch_vol
        |FROM f JOIN n ON n.user_id = f.user_id WHERE f.i = n.n""".stripMargin),
    QueryDef("agg_hurst", aggHurst, "WITH " + hurstCensus("orders", "//")),
    QueryDef("agg_poisson_bootstrap", aggPoissonBootstrap,
      """WITH rep AS (
        |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
        |    unnest(range(0, 4)) AS g
        |  FROM orders),
        |hx AS (SELECT price, g,
        |    md5(CAST(o_orderkey AS VARCHAR) || ':' || CAST(g AS VARCHAR))
        |      AS h32,
        |    unnest(range(0, 8)) AS j
        |  FROM rep),
        |h AS (SELECT price, g * 8 + j AS b,
        |    (instr('0123456789abcdef', substr(h32, j*4 + 1, 1)) - 1) * 4096
        |  + (instr('0123456789abcdef', substr(h32, j*4 + 2, 1)) - 1) * 256
        |  + (instr('0123456789abcdef', substr(h32, j*4 + 3, 1)) - 1) * 16
        |  + (instr('0123456789abcdef', substr(h32, j*4 + 4, 1)) - 1) AS u16
        |  FROM hx),
        |wts AS (SELECT price, b,
        |    CASE WHEN u16 < 24109 THEN 0 WHEN u16 < 48218 THEN 1
        |         WHEN u16 < 60273 THEN 2 WHEN u16 < 64291 THEN 3
        |         WHEN u16 < 65296 THEN 4 WHEN u16 < 65497 THEN 5
        |         WHEN u16 < 65530 THEN 6 ELSE 7 END AS w
        |  FROM h),
        |means AS (SELECT b,
        |    CAST(SUM(w * price) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS m
        |  FROM wts GROUP BY b),
        |ranked AS (SELECT m, row_number() OVER (ORDER BY m, b) AS rn
        |           FROM means),
        |est AS (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |          AS DOUBLE) / COUNT(*) AS est
        |        FROM orders)
        |SELECT est.est,
        |  (SELECT m FROM ranked WHERE rn = 2) AS ci_lo,
        |  (SELECT m FROM ranked WHERE rn = 31) AS ci_hi,
        |  CAST(32 AS BIGINT) AS n_replicates
        |FROM est""".stripMargin),
    QueryDef("graph_closeness", graphCloseness,
      s"""WITH RECURSIVE
        |$symCte,
        |bfs(src, v, d) AS (
        |  SELECT src, dst, 1 FROM sym
        |  UNION ALL
        |  SELECT b.src, e.dst, b.d + 1
        |  FROM bfs b JOIN sym e ON b.v = e.src
        |  WHERE b.d < 4 AND b.src <> e.dst),
        |sp AS (SELECT src, v, MIN(d) AS d FROM bfs GROUP BY 1, 2),
        |c AS (SELECT src,
        |        SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS c1,
        |        SUM(CASE WHEN d = 2 THEN 1 ELSE 0 END) AS c2,
        |        SUM(CASE WHEN d = 3 THEN 1 ELSE 0 END) AS c3,
        |        SUM(CASE WHEN d = 4 THEN 1 ELSE 0 END) AS c4
        |      FROM sp GROUP BY 1)
        |SELECT CAST(src AS BIGINT) AS nk,
        |  CAST(c1 AS BIGINT) AS c1, CAST(c2 AS BIGINT) AS c2,
        |  CAST(c3 AS BIGINT) AS c3, CAST(c4 AS BIGINT) AS c4,
        |  c1 + c2 * 0.5 + CAST(c3 AS DOUBLE) / 3.0 + c4 * 0.25
        |    AS harmonic
        |FROM c""".stripMargin),
    QueryDef("agg_kaplan_meier", aggKaplanMeier,
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
        |  EXP(SUM(LN(1.0 - CAST(d_events AS DOUBLE) / n_risk))
        |      OVER (ORDER BY dur)) AS s
        |FROM r WHERE d_events > 0""".stripMargin),
    QueryDef("llm_lang_temperature", llmLangTemperature,
      """WITH pl AS (SELECT lang, SUM(len(string_split(text, ' ')))
        |              AS n_tokens
        |            FROM documents GROUP BY 1),
        |tot AS (SELECT SUM(n_tokens) AS nt FROM pl),
        |s AS (SELECT lang, CAST(n_tokens AS BIGINT) AS n_tokens,
        |        CAST(n_tokens AS DOUBLE) / nt AS p,
        |        POW(CAST(n_tokens AS DOUBLE) / nt, 0.3) AS qraw
        |      FROM pl CROSS JOIN tot),
        |sq AS (SELECT SUM(qraw) AS sq FROM s)
        |SELECT lang, n_tokens, p, qraw / sq AS q,
        |  (qraw / sq) / p AS boost
        |FROM s CROSS JOIN sq""".stripMargin),
    QueryDef("text_ttr", textTtr,
      """WITH tok AS (SELECT doc_id,
        |               unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
        |tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2),
        |a AS (SELECT doc_id, SUM(c) AS n_tokens, COUNT(*) AS n_types,
        |        SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS n_hapax
        |      FROM tc GROUP BY 1)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(n_types AS BIGINT) AS n_types,
        |  CAST(n_hapax AS BIGINT) AS n_hapax,
        |  CAST(n_types AS DOUBLE) / n_tokens AS ttr,
        |  CAST(n_hapax AS DOUBLE) / n_types AS hapax_frac
        |FROM a""".stripMargin),
    QueryDef("agg_heaps_law", aggHeapsLaw,
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ts
        |           FROM documents),
        |tri AS (SELECT doc_id,
        |          unnest(list_transform(range(1, len(ts) - 1),
        |            i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS g
        |        FROM d),
        |perdoc AS (SELECT doc_id, COUNT(*) AS n FROM tri GROUP BY 1),
        |firstdoc AS (SELECT g, MIN(doc_id) AS fd FROM tri GROUP BY 1),
        |mx AS (SELECT MAX(doc_id) AS m FROM documents),
        |th AS (SELECT i, (m * i) // 10 AS cut
        |       FROM range(1, 11) r(i) CROSS JOIN mx),
        |pts AS (SELECT th.i,
        |          (SELECT SUM(n) FROM perdoc
        |           WHERE doc_id <= th.cut) AS nn,
        |          (SELECT COUNT(*) FROM firstdoc
        |           WHERE fd <= th.cut) AS vv
        |        FROM th)
        |SELECT regr_slope(LN(CAST(vv AS DOUBLE)),
        |         LN(CAST(nn AS DOUBLE))) AS beta,
        |       EXP(regr_intercept(LN(CAST(vv AS DOUBLE)),
        |         LN(CAST(nn AS DOUBLE)))) AS k,
        |       CAST(MAX(nn) AS BIGINT) AS n_total,
        |       CAST(MAX(vv) AS BIGINT) AS v_total
        |FROM pts""".stripMargin),
    QueryDef("graph_hits", graphHits,
      """WITH e AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p
        |           FROM lineitem),
        |a1 AS (SELECT p, COUNT(*) AS a FROM e GROUP BY 1),
        |h1 AS (SELECT e.s, SUM(a1.a) AS h FROM e JOIN a1 USING(p)
        |       GROUP BY 1),
        |a2 AS (SELECT e.p, SUM(h1.h) AS a FROM e JOIN h1 USING(s)
        |       GROUP BY 1)
        |SELECT CAST(p AS BIGINT) AS p_partkey,
        |  CAST(a AS BIGINT) AS authority
        |FROM a2 ORDER BY a DESC, p LIMIT 15""".stripMargin),
    QueryDef("graph_kcore", graphKcore,
      s"""WITH RECURSIVE
        |$symCte,
        |kc(iter, ns) AS (
        |  SELECT 0, (SELECT list(DISTINCT src ORDER BY src) FROM sym)
        |  UNION ALL
        |  SELECT iter + 1,
        |    (SELECT COALESCE(list(src ORDER BY src), []) FROM
        |       (SELECT e.src, COUNT(*) AS c FROM sym e
        |        WHERE list_contains(kc.ns, e.src)
        |          AND list_contains(kc.ns, e.dst)
        |        GROUP BY 1) t WHERE c >= 4)
        |  FROM kc WHERE iter < 8)
        |SELECT CAST(e.src AS BIGINT) AS nk,
        |  CAST(COUNT(*) AS BIGINT) AS deg
        |FROM sym e, (SELECT ns FROM kc WHERE iter = 8) f
        |WHERE list_contains(f.ns, e.src)
        |  AND list_contains(f.ns, e.dst)
        |GROUP BY 1""".stripMargin))
}
