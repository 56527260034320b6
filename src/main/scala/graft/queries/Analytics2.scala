package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryDef
import graft.core.Tables

/** Round-5 surface, part 2: gaps-and-islands streaks, robust (MAD)
  * outliers, priority dedup, snapshot diffing, and OHLC resampling —
  * the time-series shape of the reference's own stock domain
  * (`stock_data.csv`'s Price/Open/High/Low columns are exactly an OHLC
  * bar; `etl_ohlc_resample` rebuilds such bars from raw ticks).
  *
  * Determinism rules as in [[graft.queries.Analytics]].
  */
object Analytics2 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Gaps-and-islands: per-user consecutive-day activity streaks. The
    * island key is `day - row_number() days` — constant within a run
    * of consecutive days — so one window pass plus one aggregation
    * finds every streak with no self-join. */
  def eventsStreaks(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("day")
    t(s, dir, "events")
      .select(col("user_id"), col("ts").cast("date").as("day")).distinct()
      .withColumn("grp", date_sub(col("day"), row_number().over(w)))
      .groupBy("user_id", "grp")
      .agg(min("day").as("streak_start"), max("day").as("streak_end"),
        count(lit(1)).as("streak_days"))
      .drop("grp")
      .select("user_id", "streak_start", "streak_end", "streak_days")
  }

  /** Robust outlier detection via median absolute deviation: value
    * events more than 3 robust-z (1.4826·MAD ≈ one σ under normality)
    * from their type's median. Two grouped interpolated medians (same
    * semantics as `agg_median`), both tiny — they broadcast back to
    * the fact side, which never shuffles. */
  def aggMadOutliers(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val med = e.groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("med"))
    val dev = e.join(broadcast(med), "event_type")
      .select(col("event_type"), col("event_id"), col("value"), col("med"),
        abs(col("value") - col("med")).as("adev"))
    val mad = dev.groupBy("event_type")
      .agg(expr("percentile(adev, 0.5)").as("mad"))
    dev.join(broadcast(mad), "event_type")
      // mad > 0 guard: a zero MAD (≥ half the group at one value) makes
      // rz ±Inf/NaN, where the engines' comparison semantics diverge
      // (DuckDB orders NaN above everything; Java compares it false).
      .filter(col("mad") > 0)
      .withColumn("rz", (col("value") - col("med")) / (lit(1.4826) * col("mad")))
      .filter(abs(col("rz")) > 3.0)
      .select(col("event_id"), col("event_type"), col("value"),
        // Raw: value/med/mad are exact rationals and every op is an
        // IEEE-exact +,-,*,/ — bit-identical; a per-engine round(4)
        // flips when the rational lands on a rounding boundary.
        col("rz").as("robust_z"))
  }

  /** Cross-source priority dedup: documents sharing a canonical key
    * (here a 5-token-prefix fingerprint — the "same boilerplate head"
    * heuristic) are collapsed to one survivor, chosen by source
    * priority then doc_id. The survivor also reports how many copies
    * it absorbed — the dedup-impact number a curation pipeline logs.
    *
    * Scale: one hash-shuffle on the fingerprint; the window and the
    * aggregate share it. */
  def llmDedupPriority(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("th").orderBy("source", "doc_id")
    t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        md5(array_join(slice(split(lower(col("text")), " "), 1, 5), " "))
          .as("th"))
      .withColumn("rk", row_number().over(w))
      .withColumn("n_copies",
        count(lit(1)).over(Window.partitionBy("th")).cast("long"))
      .filter(col("rk") === 1)
      .select("doc_id", "source", "th", "n_copies")
  }

  /** Snapshot diff: two yearly slices of orders compared per customer
    * — added / removed / changed / unchanged, with old and new
    * measures side by side. The measures are decimal-pinned sums, so
    * `tot_old = tot_new` is an exact comparison, not an FP hazard.
    * This is the audit step after any full-refresh load (the
    * reference's load mode, `dump_bigq.py:133-140`). */
  def etlSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    def snap(lo: String, hi: String) =
      t(s, dir, "orders")
        .filter(col("o_orderdate").cast("date").between(lo, hi))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double")
            .as("tot"))
    val a = snap("1995-01-01", "1995-12-31")
      .select(col("o_custkey"), col("n").as("n_old"), col("tot").as("tot_old"))
    val b = snap("1996-01-01", "1996-12-31")
      .select(col("o_custkey"), col("n").as("n_new"), col("tot").as("tot_new"))
    a.join(b, Seq("o_custkey"), "full")
      .select(col("o_custkey"),
        when(col("n_old").isNull, "added")
          .when(col("n_new").isNull, "removed")
          .when(col("n_old") === col("n_new")
            && col("tot_old") === col("tot_new"), "unchanged")
          .otherwise("changed").as("status"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("tot_old"), lit(0.0)).as("tot_old"),
        coalesce(col("tot_new"), lit(0.0)).as("tot_new"))
  }

  /** OHLC resampling: hourly open/high/low/close bars per event type
    * from raw ticks — the aggregation that produces exactly the
    * reference's stock_data.csv row shape (Price/Open/High/Low,
    * `SURVEY.md` §1.3). Open/close are first/last in event-time with
    * an explicit (us, event_id) total order; high/low/count are plain
    * aggregates sharing the same exchange. */
  def etlOhlcResample(s: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy("event_type", "hr").orderBy("us", "event_id")
    t(s, dir, "events")
      .select(col("event_type"), date_trunc("hour", col("ts")).as("hr"),
        unix_micros(col("ts")).as("us"), col("event_id"), col("value"))
      .withColumn("o", first("value").over(ord))
      .withColumn("c", last("value").over(
        ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .groupBy("event_type", "hr")
      .agg(min("o").as("open"), max("value").as("high"),
        min("value").as("low"), min("c").as("close"),
        count(lit(1)).as("n_ticks"))
  }

  /** Per-group least-squares regression: price-on-quantity slope,
    * intercept, R², and pair count via the SQL regression aggregates —
    * trend detection as a single map-side-combinable aggregation, no
    * window, no second pass. Rounding margins: slope/intercept carry
    * ~1e-8 relative FP divergence across engines vs a 5e-5 rounding
    * granularity at 4 decimals. */
  def aggRegression(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("graft_regr_lineitem")
    s.sql(
      """SELECT l_returnflag,
        |  ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        |  ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS icept,
        |  ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
        |  CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
        |FROM graft_regr_lineitem GROUP BY l_returnflag""".stripMargin)
  }

  /** First-order Markov transition matrix over each user's event
    * stream: consecutive (from, to) event-type pairs with transition
    * probabilities — the behavioral-model aggregate behind funnel and
    * next-event prediction. One user-keyed window pass, then a
    * 25-cell aggregate; the per-from totals re-enter by broadcast. */
  def eventsTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val pairs = t(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .withColumn("from_type", lag("event_type", 1).over(w))
      .filter(col("from_type").isNotNull)
      .select(col("from_type"), col("event_type").as("to_type"))
    val cnt = pairs.groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
    val tot = cnt.groupBy("from_type").agg(sum("n").as("tn"))
    cnt.join(broadcast(tot), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        (col("n") / col("tn")).as("p"))
  }

  /** ROLLUP with grouping-indicator columns: `GROUPING(col)` flags
    * distinguish subtotal rows from data rows whose key really is the
    * sentinel — the indicator surface the plain rollup/cube queries
    * don't exercise. */
  def aggGroupingId(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("graft_gid_lineitem")
    s.sql(
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |  COALESCE(l_linestatus, 'ALL') AS ls,
        |  CAST(GROUPING(l_returnflag)*2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM graft_gid_lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin)
  }

  /** Top-5 line items per supplier through the custom heap operator
    * ([[graft.plans.TopKPerGroup]]): same semantics as the
    * `row_number() <= k` window (the oracle), but planned as one
    * hash-exchange + bounded per-group heaps — no partition sort. The
    * order is total (price desc, then orderkey, linenumber), so the
    * result is deterministic. */
  def winTopkHeap(s: SparkSession, dir: String): DataFrame =
    graft.plans.TopKPerGroup(
      t(s, dir, "lineitem")
        .select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice"),
      Seq("l_suppkey"),
      Seq(col("l_extendedprice").desc, col("l_orderkey").asc,
        col("l_linenumber").asc),
      k = 5)

  /** RFM (recency / frequency / monetary) customer segmentation:
    * per-user purchase stats, then NTILE(5) quintiles per dimension
    * with user_id tiebreaks so the bucketing is a total order. The
    * per-user table is already an aggregate, but "rows = users" is
    * still O(data) at 100×, so the quintiles ride
    * [[graft.operators.ScalableNtile.withNtiles]] — exact distributed
    * rank (grid-bucketed, per-bucket window + broadcast offsets) fed
    * to the integer NTILE formula — instead of single-task global
    * windows. All THREE quintiles come from ONE device instantiation
    * (one persisted base, one combined boundary action); the r12 shape
    * — three nested withNtile calls — persisted three progressively
    * wider frames and paid three boundary actions for one logical
    * pass. DESC orders negate the key (longs/doubles, no overflow
    * case here); the oracle keeps native NTILE, bit-identical. */
  def eventsRfm(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(max(unix_micros(col("ts"))).as("last_us"),
        count(lit(1)).as("freq"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double")
          .as("monetary"))
    graft.operators.ScalableNtile.withNtiles(p, 5, Nil, Seq(
        (-col("last_us"), Seq(col("user_id")), "r_quintile"),
        (-col("freq"), Seq(col("user_id")), "f_quintile"),
        (-col("monetary"), Seq(col("user_id")), "m_quintile")))
      .select("user_id", "r_quintile", "f_quintile", "m_quintile",
        "freq", "monetary")
  }

  /** Shannon entropy of each user's event-type distribution — the
    * behavioral-diversity / label-balance metric. Two tiny grouped
    * aggregates; the per-user totals come back via the same user-keyed
    * exchange. The -Σ p·ln p expression is the same text on both
    * engines. */
  def aggEntropy(s: SparkSession, dir: String): DataFrame = {
    val cnt = t(s, dir, "events")
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
    val tot = cnt.groupBy("user_id").agg(sum("n").as("tn"))
    cnt.join(tot, "user_id")
      .groupBy(col("user_id"), col("tn").cast("long").as("n_events"))
      .agg(expr("ROUND(-SUM((n / tn) * LN(n / tn)), 4)").as("entropy"))
      .select("user_id", "n_events", "entropy")
  }

  /** Gini coefficient of order value per market segment — the
    * concentration metric behind "do a few whales drive this
    * segment's revenue". Computed from the rank formula
    * G = (2·Σ(rank·x) − (n+1)·Σx) / (n·Σx): ranks are integers under
    * an explicit total order (value, then orderkey), and both
    * Σ(rank·x) and Σx accumulate in exact decimal — so the only
    * floating-point op is the final division, identical in both
    * engines. The ratio is emitted RAW (the comparator canonicalizes);
    * an engine-side round would re-introduce midpoint sensitivity for
    * zero benefit. One window pass per segment + one aggregate. */
  def aggGini(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    // customer grows with the SF — no broadcast hint (a forced hint
    // would pin a driver-side build at 100 TB); the optimizer
    // broadcasts it while small, AQE demotes past the threshold.
    t(s, dir, "orders")
      .join(t(s, dir, "customer")
        .select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"),
        col("o_totalprice").cast(DecimalType(18, 2)).as("x"))
      .withColumn("rk", row_number().over(w))
      .drop("o_totalprice")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("x") * col("rk")).as("srx"))
      .select(col("c_mktsegment"), col("n"),
        ((lit(2) * col("srx").cast("double")
          - (col("n") + 1).cast("double") * col("sx").cast("double"))
          / (col("n").cast("double") * col("sx").cast("double")))
          .as("gini"))
  }

  /** Cohort lifetime-value curves: users grouped by first-seen WEEK
    * (the fixture stream spans one month), cumulative value tracked by
    * integer week age — the growth report behind every retention
    * investment decision. Week index is pure integer arithmetic
    * (epoch-days div 7), per-age revenue accumulates in exact decimal,
    * and the cumulative sum runs the decimal window before ONE double
    * conversion — so the curve is bit-identical in both engines.
    * Cohort table is tiny (weeks × ages); the only fact-scale work is
    * one grouped aggregate. */
  def eventsCohortLtv(s: SparkSession, dir: String): DataFrame = {
    val epoch = lit("1970-01-01").cast("date")
    val e = t(s, dir, "events")
      .select(col("user_id"), col("value"),
        (datediff(col("ts").cast("date"), epoch) / 7).cast("long").as("wk"))
    val cohort = e.groupBy("user_id").agg(min("wk").as("c0"))
    val perAge = e.join(cohort, "user_id")
      .withColumn("age_weeks", (col("wk") - col("c0")).cast("long"))
      .groupBy(col("c0"), col("age_weeks"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast(DecimalType(18, 2))).as("rev"))
    val w = Window.partitionBy("c0").orderBy("age_weeks")
      .rowsBetween(Window.unboundedPreceding, 0)
    perAge
      .withColumn("cum_value",
        round(sum(col("rev")).over(w), 2).cast("double"))
      .select(
        date_format(date_add(epoch, (col("c0") * 7).cast("int")),
          "yyyy-MM-dd").as("cohort_week"),
        col("age_weeks"), col("n_users"), col("cum_value"))
  }

  /** Ratio-to-report: each order's share of its customer's total — the
    * window-aggregate (no ORDER BY) reporting idiom. The denominator is
    * a decimal-pinned sum cast to double, so the division is the same
    * IEEE op on both engines. */
  def winRatioToReport(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        (col("o_totalprice")
          / sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
            .cast("double")).as("share"))
  }

  /** DAU / WAU / stickiness: daily and weekly distinct actives joined
    * on the ISO week, ratio per day — the engagement report every
    * product pipeline ships. Two count-distinct aggregations; the
    * 30-row daily side joins the 5-row weekly side by broadcast. */
  def eventsDauWau(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").select(col("ts").cast("date").as("day"),
      col("user_id"))
    val d = e.groupBy("day").agg(countDistinct("user_id").as("dau"))
    val w = e.select(date_trunc("week", col("day")).cast("date").as("wk"),
        col("user_id"))
      .groupBy("wk").agg(countDistinct("user_id").as("wau"))
    d.join(broadcast(w), date_trunc("week", col("day")).cast("date") === col("wk"))
      .select(col("day"), col("dau"), col("wau"),
        (col("dau") / col("wau").cast("double")).as("stickiness"))
  }

  /** Skewness / excess kurtosis from raw power sums: l_quantity is
    * integral, so s1..s4 are EXACT integers under any partial-agg
    * order, and the moment projection is then the same expression
    * tree on both engines — no reliance on either engine's (differing:
    * population vs sample-corrected) built-in skewness/kurtosis. The
    * rational steps are IEEE-exact; POWER(x, 1.5) is not correctly
    * rounded on either engine, so the final doubles agree to a ulp
    * and the harness's round-to-6 canonicalization absorbs the rest.
    * One map-side-combinable aggregation pass. */
  def aggSkewKurt(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("graft_moments_lineitem")
    s.sql(
      """WITH s AS (SELECT l_returnflag, COUNT(*) AS n,
        |             SUM(l_quantity) AS s1, SUM(l_quantity*l_quantity) AS s2,
        |             SUM(l_quantity*l_quantity*l_quantity) AS s3,
        |             SUM(l_quantity*l_quantity*l_quantity*l_quantity) AS s4
        |           FROM graft_moments_lineitem GROUP BY 1)
        |SELECT l_returnflag, n,
        |  CASE WHEN s2/n - (s1/n)*(s1/n) > 0 THEN
        |    (s3/n - 3*(s1/n)*(s2/n) + 2*(s1/n)*(s1/n)*(s1/n))
        |      / POWER(s2/n - (s1/n)*(s1/n), 1.5) END AS skew,
        |  CASE WHEN s2/n - (s1/n)*(s1/n) > 0 THEN
        |    (s4/n - 4*(s1/n)*(s3/n) + 6*(s1/n)*(s1/n)*(s2/n) - 3*(s1/n)*(s1/n)*(s1/n)*(s1/n))
        |      / POWER(s2/n - (s1/n)*(s1/n), 2) - 3 END AS ex_kurt
        |FROM s""".stripMargin)
  }

  /** Top-20 three-step event-type paths: double `lead` over each
    * user's stream, then a count — path/journey mining one window pass
    * deep (both leads share the same sort). */
  def eventsPathTop3(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    t(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type").as("e1"))
      .withColumn("e2", lead("e1", 1).over(w))
      .withColumn("e3", lead("e1", 2).over(w))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .groupBy("e1", "e2", "e3").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("e1"), col("e2"), col("e3"))
      .limit(20)
  }

  /** Deterministic per-group mode: counts then a total-order pick
    * (count desc, value asc) — both engines' built-in `mode` leaves
    * ties unspecified, so the idiom is spelled out. */
  def aggModeDet(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_returnflag")
      .orderBy(desc("n"), col("l_quantity"))
    t(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_quantity").agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_qty"),
        col("n").as("mode_count"))
  }

  /** Unigram log-probability quality score (perplexity proxy): each
    * doc's mean -ln p(token) under the corpus unigram model — the
    * cheap LM-quality filter run before an expensive model-based one.
    * The unigram table is vocab-sized — no broadcast hint: AQE
    * broadcasts it back to the exploded token stream while its
    * runtime size fits, and degrades to a shuffled hash join on a
    * 100× vocab instead of a driver OOM. The scalar total keeps its
    * hint (one row). */
  def llmLogprob(s: SparkSession, dir: String): DataFrame = {
    val tok = t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
    val uni = tok.groupBy("t").agg(count(lit(1)).as("n"))
    val tot = uni.agg(sum("n").as("nt"))
    tok.join(uni, "t").crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"),
        expr("ROUND(-SUM(LN(n / nt)) / COUNT(*), 4)").as("avg_neg_logprob"))
  }

  /** Winsorization: clamp values to their group's [p01, p99] before
    * aggregating — the outlier-robust cleaning step for metrics (and
    * the numeric analog of llm_length_filter's quality gate). The
    * percentile bounds are one row per type, broadcast back; the fact
    * side clamps and aggregates without shuffling. Bounds are rounded
    * at 4 dp (the `agg_median` parity rule) — interpolated percentiles
    * are a double multiply whose last ulp differs between engines, and
    * at sf1 a data point landed exactly on the raw p99 boundary,
    * flipping n_clip_hi by one. */
  def llmWinsorize(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val b = e.groupBy("event_type")
      // one array-percentile buffer for both bounds (the scalar pair
      // built two identical value maps) — values unchanged
      .agg(expr("percentile(value, array(0.01, 0.99))").as("ps"))
      .select(col("event_type"),
        round(col("ps")(0), 4).as("lo"), round(col("ps")(1), 4).as("hi"))
    e.join(broadcast(b), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") < col("lo"), 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("value") > col("hi"), 1L).otherwise(0L)).as("n_clip_hi"),
        // Decimal-pinned: a double sum over a group is accumulation-
        // order-dependent; the clamped values are ≤4-decimal rationals
        // (2-decimal data, 2-digit percentile interpolation fractions)
        // so a DECIMAL(18,6) cast is exact and identical both engines.
        sum(least(greatest(col("value"), col("lo")), col("hi"))
          .cast(DecimalType(18, 6))).cast("double").as("winsorized_sum"))
  }

  /** Surrogate-key assignment: deterministic dense integer keys for a
    * dimension (region, nation) via dense_rank over the natural order —
    * the warehouse dimension-build step that replaces source keys. */
  def etlSurrogateKey(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("r_name", "n_name")
    t(s, dir, "nation")
      .join(broadcast(t(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_name"), col("r_name"),
        dense_rank().over(w).cast("long").as("dim_key"))
  }

  /** Mergeable-sketch rollup: per-day AND overall distinct users from
    * ONE pass via ROLLUP + approx_count_distinct — the property that
    * matters at 100 TB is that HLL sketches MERGE (the overall row is
    * the union of the day sketches, not a second scan). Graded like
    * the other sketch queries: the oracle emits exact counts and the
    * query proves the estimate lands within the rsd envelope. */
  def aggHllRollup(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events").createOrReplaceTempView("graft_hll_events")
    s.sql(
      """SELECT COALESCE(CAST(CAST(ts AS DATE) AS STRING), 'ALL') AS day,
        |  COUNT(DISTINCT user_id) AS exact_users,
        |  (approx_count_distinct(user_id) BETWEEN
        |     CAST(COUNT(DISTINCT user_id) * 0.85 AS BIGINT)
        |     AND CAST(COUNT(DISTINCT user_id) * 1.15 AS BIGINT)) AS hll_ok
        |FROM graft_hll_events GROUP BY ROLLUP(CAST(ts AS DATE))""".stripMargin)
  }

  // ---------------------------------------------------------------- maps

  val queries: Seq[QueryDef] = Seq(
    QueryDef("etl_surrogate_key", etlSurrogateKey,
      """SELECT n_name, r_name,
        |  CAST(DENSE_RANK() OVER (ORDER BY r_name, n_name) AS BIGINT) AS dim_key
        |FROM nation JOIN region ON n_regionkey = r_regionkey""".stripMargin),
    QueryDef("agg_hll_rollup", aggHllRollup,
      """SELECT COALESCE(CAST(CAST(ts AS DATE) AS VARCHAR), 'ALL') AS day,
        |  COUNT(DISTINCT user_id) AS exact_users,
        |  TRUE AS hll_ok
        |FROM events GROUP BY ROLLUP(CAST(ts AS DATE))""".stripMargin),
    QueryDef("llm_winsorize", llmWinsorize,
      """WITH b AS (SELECT event_type,
        |             ROUND(quantile_cont(value, 0.01), 4) AS lo,
        |             ROUND(quantile_cont(value, 0.99), 4) AS hi
        |           FROM events GROUP BY 1)
        |SELECT e.event_type,
        |       COUNT(*) AS n,
        |       CAST(SUM(CASE WHEN e.value < b.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
        |       CAST(SUM(CASE WHEN e.value > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
        |       CAST(SUM(CAST(least(greatest(e.value, b.lo), b.hi)
        |         AS DECIMAL(18,6))) AS DOUBLE) AS winsorized_sum
        |FROM events e JOIN b ON e.event_type = b.event_type
        |GROUP BY e.event_type""".stripMargin),
    QueryDef("events_path_top3", eventsPathTop3,
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id, event_type FROM events),
        |p AS (SELECT event_type AS e1,
        |        LEAD(event_type, 1) OVER w AS e2, LEAD(event_type, 2) OVER w AS e3
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
        |SELECT e1, e2, e3, COUNT(*) AS n
        |FROM p WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        |GROUP BY 1,2,3 ORDER BY n DESC, e1, e2, e3 LIMIT 20""".stripMargin),
    QueryDef("agg_mode_det", aggModeDet,
      """WITH cnt AS (SELECT l_returnflag, l_quantity, COUNT(*) AS n FROM lineitem GROUP BY 1,2),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |        ORDER BY n DESC, l_quantity) AS rk FROM cnt)
        |SELECT l_returnflag, l_quantity AS mode_qty, n AS mode_count
        |FROM r WHERE rk = 1""".stripMargin),
    QueryDef("llm_logprob", llmLogprob,
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS t FROM documents),
        |uni AS (SELECT t, COUNT(*) AS n FROM tok GROUP BY 1),
        |tot AS (SELECT SUM(n) AS nt FROM uni)
        |SELECT doc_id, COUNT(*) AS n_toks,
        |       ROUND(-SUM(LN(uni.n / tot.nt)) / COUNT(*), 4) AS avg_neg_logprob
        |FROM tok JOIN uni ON tok.t = uni.t CROSS JOIN tot
        |GROUP BY doc_id""".stripMargin),
    QueryDef("win_ratio_to_report", winRatioToReport,
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |       o_totalprice / CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |         OVER (PARTITION BY o_custkey) AS DOUBLE) AS share
        |FROM orders""".stripMargin),
    QueryDef("events_dau_wau", eventsDauWau,
      """WITH d AS (SELECT CAST(ts AS DATE) AS day, COUNT(DISTINCT user_id) AS dau
        |           FROM events GROUP BY 1),
        |w AS (SELECT CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS wk,
        |        COUNT(DISTINCT user_id) AS wau
        |      FROM events GROUP BY 1)
        |SELECT d.day, d.dau, w.wau, d.dau / CAST(w.wau AS DOUBLE) AS stickiness
        |FROM d JOIN w ON CAST(date_trunc('week', d.day) AS DATE) = w.wk""".stripMargin),
    QueryDef("agg_skew_kurt", aggSkewKurt,
      """WITH s AS (SELECT l_returnflag, COUNT(*) AS n,
        |             SUM(l_quantity) AS s1, SUM(l_quantity*l_quantity) AS s2,
        |             SUM(l_quantity*l_quantity*l_quantity) AS s3,
        |             SUM(l_quantity*l_quantity*l_quantity*l_quantity) AS s4
        |           FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, n,
        |  CASE WHEN s2/n - (s1/n)*(s1/n) > 0 THEN
        |    (s3/n - 3*(s1/n)*(s2/n) + 2*(s1/n)*(s1/n)*(s1/n))
        |      / POWER(s2/n - (s1/n)*(s1/n), 1.5) END AS skew,
        |  CASE WHEN s2/n - (s1/n)*(s1/n) > 0 THEN
        |    (s4/n - 4*(s1/n)*(s3/n) + 6*(s1/n)*(s1/n)*(s2/n) - 3*(s1/n)*(s1/n)*(s1/n)*(s1/n))
        |      / POWER(s2/n - (s1/n)*(s1/n), 2) - 3 END AS ex_kurt
        |FROM s""".stripMargin),
    QueryDef("events_rfm", eventsRfm,
      """WITH p AS (SELECT user_id, MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us,
        |             COUNT(*) AS freq,
        |             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monetary
        |           FROM events WHERE event_type = 'purchase' GROUP BY user_id)
        |SELECT user_id,
        |  CAST(NTILE(5) OVER (ORDER BY last_us DESC, user_id) AS BIGINT) AS r_quintile,
        |  CAST(NTILE(5) OVER (ORDER BY freq DESC, user_id) AS BIGINT) AS f_quintile,
        |  CAST(NTILE(5) OVER (ORDER BY monetary DESC, user_id) AS BIGINT) AS m_quintile,
        |  freq, monetary
        |FROM p""".stripMargin),
    QueryDef("agg_entropy", aggEntropy,
      """WITH cnt AS (SELECT user_id, event_type, COUNT(*) AS n FROM events GROUP BY 1,2),
        |tot AS (SELECT user_id, SUM(n) AS tn FROM cnt GROUP BY 1)
        |SELECT c.user_id, CAST(t.tn AS BIGINT) AS n_events,
        |       ROUND(-SUM((c.n / t.tn) * LN(c.n / t.tn)), 4) AS entropy
        |FROM cnt c JOIN tot t ON c.user_id = t.user_id
        |GROUP BY c.user_id, t.tn""".stripMargin),
    QueryDef("agg_gini", aggGini,
      """WITH x AS (SELECT c_mktsegment, o_orderkey,
        |             CAST(o_totalprice AS DECIMAL(18,2)) AS x,
        |             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |               ORDER BY o_totalprice, o_orderkey) AS rk
        |           FROM orders JOIN customer ON o_custkey = c_custkey)
        |SELECT c_mktsegment, COUNT(*) AS n,
        |  (2 * CAST(SUM(x * rk) AS DOUBLE)
        |   - (COUNT(*) + 1) * CAST(SUM(x) AS DOUBLE))
        |  / (COUNT(*) * CAST(SUM(x) AS DOUBLE)) AS gini
        |FROM x GROUP BY c_mktsegment""".stripMargin),
    QueryDef("events_cohort_ltv", eventsCohortLtv,
      """WITH e AS (SELECT user_id, value,
        |             (CAST(ts AS DATE) - DATE '1970-01-01') // 7 AS wk
        |           FROM events),
        |c AS (SELECT user_id, MIN(wk) AS c0 FROM e GROUP BY user_id),
        |pa AS (SELECT c.c0, CAST(e.wk - c.c0 AS BIGINT) AS age_weeks,
        |         COUNT(DISTINCT e.user_id) AS n_users,
        |         SUM(CAST(e.value AS DECIMAL(18,2))) AS rev
        |       FROM e JOIN c ON e.user_id = c.user_id
        |       GROUP BY c.c0, 2)
        |SELECT strftime(DATE '1970-01-01' + CAST(c0 * 7 AS INT), '%Y-%m-%d')
        |    AS cohort_week,
        |  age_weeks, n_users,
        |  CAST(ROUND(SUM(rev) OVER (PARTITION BY c0 ORDER BY age_weeks
        |    ROWS UNBOUNDED PRECEDING), 2) AS DOUBLE) AS cum_value
        |FROM pa""".stripMargin),
    QueryDef("win_topk_heap", winTopkHeap,
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice
        |FROM (SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
        |        ROW_NUMBER() OVER (PARTITION BY l_suppkey
        |          ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        |      FROM lineitem)
        |WHERE rn <= 5""".stripMargin),
    QueryDef("agg_regression", aggRegression,
      """SELECT l_returnflag,
        |  ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        |  ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS icept,
        |  ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
        |  CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    QueryDef("events_transitions", eventsTransitions,
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id, event_type FROM events),
        |p AS (SELECT event_type AS to_type,
        |        LAG(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS from_type
        |      FROM e),
        |cnt AS (SELECT from_type, to_type, COUNT(*) AS n FROM p WHERE from_type IS NOT NULL GROUP BY 1,2),
        |tot AS (SELECT from_type, SUM(n) AS tn FROM cnt GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n, c.n / t.tn AS p
        |FROM cnt c JOIN tot t ON c.from_type = t.from_type""".stripMargin),
    QueryDef("agg_grouping_id", aggGroupingId,
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |  COALESCE(l_linestatus, 'ALL') AS ls,
        |  CAST(GROUPING(l_returnflag)*2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin),
    QueryDef("events_streaks", eventsStreaks,
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |r AS (SELECT user_id, day,
        |        CAST(day - INTERVAL (ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)) DAY AS DATE) AS grp
        |      FROM d)
        |SELECT user_id, MIN(day) AS streak_start, MAX(day) AS streak_end, COUNT(*) AS streak_days
        |FROM r GROUP BY user_id, grp""".stripMargin),
    QueryDef("agg_mad_outliers", aggMadOutliers,
      """WITH med AS (SELECT event_type, median(value) AS med FROM events GROUP BY 1),
        |dev AS (SELECT e.event_type, e.event_id, e.value, ABS(e.value - m.med) AS adev, m.med
        |        FROM events e JOIN med m ON e.event_type = m.event_type),
        |mad AS (SELECT event_type, median(adev) AS mad FROM dev GROUP BY 1)
        |SELECT d.event_id, d.event_type, d.value,
        |       (d.value - d.med) / (1.4826 * m.mad) AS robust_z
        |FROM dev d JOIN mad m ON d.event_type = m.event_type
        |WHERE m.mad > 0
        |  AND ABS((d.value - d.med) / (1.4826 * m.mad)) > 3.0""".stripMargin),
    QueryDef("llm_dedup_priority", llmDedupPriority,
      """WITH h AS (SELECT doc_id, source,
        |             md5(array_to_string(list_slice(string_split(lower(text), ' '), 1, 5), ' ')) AS th
        |           FROM documents),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY th ORDER BY source, doc_id) AS rk,
        |        COUNT(*) OVER (PARTITION BY th) AS dupes
        |      FROM h)
        |SELECT doc_id, source, th, CAST(dupes AS BIGINT) AS n_copies
        |FROM r WHERE rk = 1""".stripMargin),
    QueryDef("etl_snapshot_diff", etlSnapshotDiff,
      """WITH a AS (SELECT o_custkey, COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS tot
        |           FROM orders WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1995-12-31' GROUP BY 1),
        |b AS (SELECT o_custkey, COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS tot
        |      FROM orders WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1996-12-31' GROUP BY 1)
        |SELECT COALESCE(a.o_custkey, b.o_custkey) AS o_custkey,
        |       CASE WHEN a.o_custkey IS NULL THEN 'added'
        |            WHEN b.o_custkey IS NULL THEN 'removed'
        |            WHEN a.n = b.n AND a.tot = b.tot THEN 'unchanged' ELSE 'changed' END AS status,
        |       COALESCE(a.n, 0) AS n_old, COALESCE(b.n, 0) AS n_new,
        |       COALESCE(a.tot, 0) AS tot_old, COALESCE(b.tot, 0) AS tot_new
        |FROM a FULL JOIN b ON a.o_custkey = b.o_custkey""".stripMargin),
    QueryDef("etl_ohlc_resample", etlOhlcResample,
      """WITH e AS (SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id, value FROM events),
        |w AS (SELECT *, FIRST_VALUE(value) OVER (PARTITION BY event_type, hr ORDER BY us, event_id) AS o,
        |        LAST_VALUE(value) OVER (PARTITION BY event_type, hr ORDER BY us, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS c
        |      FROM e)
        |SELECT event_type, CAST(hr AS TIMESTAMP) AS hr, MIN(o) AS open, MAX(value) AS high,
        |       MIN(value) AS low, MIN(c) AS close, COUNT(*) AS n_ticks
        |FROM w GROUP BY event_type, hr""".stripMargin))
}
