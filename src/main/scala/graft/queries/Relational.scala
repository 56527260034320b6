package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.QueryDef
import graft.core.Tables

/** Relational query surface: aggregations, joins, windows, sorts, set ops
  * (SURVEY.md §2B). Each query has a DuckDB oracle twin, declared next to
  * it in [[Relational.queries]], with identical column names and value
  * canonicalization.
  *
  * Determinism rules shared with the oracle SQL:
  *  - Whole-table double sums go through DECIMAL(18,4) so accumulation
  *    order (Spark partial aggregation vs DuckDB sequential) can't shift
  *    low bits: measured divergence is ~1e-4 absolute at sf0.1, the same
  *    magnitude as a 4-decimal rounding step.
  *  - Per-row arithmetic and small windowed aggregates stay double and
  *    are rounded to a granularity far above their ~1e-12 divergence.
  *  - Every top-k / limit query orders by a key-complete, unique sort.
  */
object Relational {

  /** Exact money arithmetic: decimal in, double out (see class doc). */
  private def d18(c: Column): Column = c.cast(DecimalType(18, 4))
  private def d8(c: Column): Column = c.cast(DecimalType(8, 4))
  private def dsum(c: Column): Column = sum(c).cast(DoubleType)

  /** For sums whose decimal SCALE×magnitude pushes the unscaled value
    * past 2^53 (product sums at scale 8/12 over 1e9+ totals): round the
    * DECIMAL to 2 first. DuckDB's wide-decimal→double conversion is not
    * correctly rounded there (1 ulp off Java's BigDecimal.doubleValue,
    * observed at sf0.1 on sum_charge/revenue); a 2-decimal value
    * converts identically in both engines. */
  private def dsum2(c: Column): Column =
    round(sum(c), 2).cast(DoubleType)

  // ---------------------------------------------------------------- aggs

  /** TPC-H Q1-shape pricing summary (SURVEY §2B Aggregation). */
  def q1Agg(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .filter(col("l_shipdate") < lit("2001-01-01").cast("timestamp_ntz"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum2(d18(col("l_quantity"))).as("sum_qty"),
        dsum2(d18(col("l_extendedprice"))).as("sum_base_price"),
        dsum2(d18(col("l_extendedprice")) * d8(lit(1) - col("l_discount")))
          .as("sum_disc_price"),
        dsum2(d18(col("l_extendedprice")) * d8(lit(1) - col("l_discount"))
          * d8(lit(1) + col("l_tax"))).as("sum_charge"),
        // avg_* emitted RAW: the quotient of a decimal-exact sum and a
        // count is bit-identical on both engines, and a per-engine
        // round(…,4) re-introduces the rounding-boundary divergence
        // (the win_rolling_zscore lesson).
        (dsum2(d18(col("l_quantity"))) / count(lit(1))).as("avg_qty"),
        (dsum2(d18(col("l_extendedprice"))) / count(lit(1))).as("avg_price"),
        (dsum(d18(col("l_discount"))) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** Exact distinct-count aggregation. */
  def aggCountDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))

  /** approx_count_distinct (HLL) checked by bounds: the query itself
    * asserts the sketch lands within 5% of exact, so the oracle row is a
    * constant `true` next to the exact count. */
  def aggApproxCd(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      // Dedup-first, then count + sketch the deduped keys (same values:
      // count of deduped keys IS the distinct count, and HLL state is
      // duplicate-insensitive). The one-aggregate countDistinct+approx
      // spelling made the planner key the partial aggregation by
      // (flag, partkey) and ship a 400-word HLL buffer per distinct
      // pair through the exchange.
      .groupBy("l_returnflag", "l_partkey")
      .agg(count(lit(1)).as("__dup"))
      .groupBy("l_returnflag")
      .agg(
        count(col("l_partkey")).as("n_exact"),
        approx_count_distinct(col("l_partkey"), 0.02).as("n_approx"))
      .select(
        col("l_returnflag"), col("n_exact"),
        (abs(col("n_approx") - col("n_exact")) <=
          col("n_exact") * 0.05).as("approx_ok"))

  /** percentile_approx (a mergeable quantile sketch) bounds-checked
    * against the exact interpolated percentile, same pattern as
    * aggApproxCd: the oracle's row carries the exact values + `true`. */
  def aggApproxQuantile(s: SparkSession, dir: String): DataFrame = {
    // Exact side census-style (ExactPercentile — the value column is
    // ~97% distinct, so the Percentile aggregate's maps are the data);
    // the approx sketch keeps its own single aggregation pass. Two
    // light passes replace one heavy one; the 2%-envelope check output
    // is unchanged (the sketch is deterministic on this data and sits
    // ~0.01% off the exact point, nowhere near the 2% boundary).
    val ex = graft.operators.ExactPercentile.of(
        Tables.load(s, dir, "lineitem"), Seq("l_returnflag"),
        col("l_extendedprice"), Seq(0.5 -> "pe50", 0.9 -> "pe90"))
      .select(col("l_returnflag"),
        round(col("pe50"), 4).as("p50_exact"),
        round(col("pe90"), 4).as("p90_exact"))
    val ap = Tables.load(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(expr("percentile_approx(l_extendedprice, array(0.5, 0.9), 10000)")
        .as("pa"))
      .select(col("l_returnflag"),
        col("pa")(0).as("p50_approx"), col("pa")(1).as("p90_approx"))
    ex.join(ap, "l_returnflag")
      .select(col("l_returnflag"), col("p50_exact"), col("p90_exact"),
        (abs(col("p50_approx") - col("p50_exact")) <= col("p50_exact") * 0.02
          && abs(col("p90_approx") - col("p90_exact")) <= col("p90_exact") * 0.02)
          .as("approx_ok"))
  }

  /** Native bitmap exact-distinct (graft.plans.BitmapDistinct, a
    * TypedImperativeAggregate): one aggregation pass, per-group bitmap
    * buffers OR-merged map-side — vs COUNT(DISTINCT)'s expand+double
    * aggregation. Exact, so the oracle is plain COUNT(DISTINCT). The
    * capacity is a CALLER contract (keys above it are ignored by the
    * operator's documented semantics): 9 999 999 covers l_partkey's
    * SPARSE surrogate domain at sf1 (max key 9 019 999 — the fixture
    * scatters part keys, it does not densify them) at a 1.25 MiB
    * per-group buffer — sized to the caller's key DOMAIN, not its
    * distinct count, the way a real caller sizes it from dimension
    * metadata (an OPEN key domain wants approx_count_distinct/HLL
    * instead; sf1 exposed exactly this when a 2²⁰−1 literal silently
    * undercounted). */
  def aggBitmapDistinct(s: SparkSession, dir: String): DataFrame = {
    Tables.sql(s, dir,
      """SELECT l_returnflag, l_linestatus,
        |  bitmap_distinct(l_partkey, 9999999) AS n_parts,
        |  bitmap_distinct(l_suppkey, 9999999) AS n_supps
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus""".stripMargin)
  }

  /** GROUP BY ... HAVING on a per-supplier volume threshold. */
  def aggHaving(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .groupBy("l_suppkey")
      .agg(dsum2(d18(col("l_quantity"))).as("total_qty"),
        count(lit(1)).as("n_items"))
      .filter(col("total_qty") > 14000)

  /** CUBE over order status × priority. */
  def aggCube(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        dsum(d18(col("o_totalprice"))).as("sum_price"))

  /** GROUPING SETS ((flag), (status), ()). */
  def aggGroupingSets(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"),
        dsum2(d18(col("l_quantity"))).as("sum_qty"))

  // --------------------------------------------------------------- joins

  /** Five-table star join, dims broadcast: revenue per region. */
  def joinInnerStar(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val o = Tables.load(s, dir, "orders")
    val c = Tables.load(s, dir, "customer")
    val n = Tables.load(s, dir, "nation")
    val r = Tables.load(s, dir, "region")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name")
      .agg(
        dsum2(d18(col("l_extendedprice")) * d8(lit(1) - col("l_discount")))
          .as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Left join keeping order-less customers (zero counts, 0.0 spend). */
  def joinLeftAgg(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer")
    val o = Tables.load(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"),
        coalesce(dsum(d18(col("o_totalprice"))), lit(0.0)).as("total_spent"))
  }

  /** Right join keeping never-ordered parts. */
  def joinRightAgg(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val p = Tables.load(s, dir, "part")
    li.join(p, li("l_partkey") === p("p_partkey"), "right")
      .groupBy("p_partkey", "p_brand")
      .agg(count(col("l_orderkey")).as("n_li"))
  }

  /** Full outer join of two per-nation aggregates. */
  def joinFull(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer").groupBy(col("c_nationkey").as("ck"))
      .agg(count(lit(1)).as("n_customers"))
    val sup = Tables.load(s, dir, "supplier").groupBy(col("s_nationkey").as("sk"))
      .agg(count(lit(1)).as("n_suppliers"))
    c.join(sup, c("ck") === sup("sk"), "full_outer")
      .select(coalesce(col("ck"), col("sk")).as("nationkey"),
        col("n_customers"), col("n_suppliers"))
  }

  /** Left-semi: customers having at least one open order. */
  def joinSemi(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer")
    val o = Tables.load(s, dir, "orders").filter(col("o_orderstatus") === "O")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")
  }

  /** Left-anti: customers with no orders at all. */
  def joinAnti(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer")
    val o = Tables.load(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_nationkey")
  }

  /** Non-equi range join: same-user event pairs within a 10-minute
    * window. The equi key is COMPOUNDED with a 10-minute time bucket
    * (the [[graft.operators.IntervalJoin]] device): each left row
    * probes (user, bucket) and (user, bucket+1) — the only buckets a
    * partner ≤ 10 min later can live in — and the exact range
    * predicate refines the candidates. A bare equi-join on user_id is
    * hash-partitionable but per-key quadratic: a power user with k
    * events builds k² candidate pairs inside ONE task before the
    * filter; bucketing bounds the fan-out by events-per-10-minutes,
    * so a hot key is many small bucket pairs spread across tasks, not
    * one straggler. Each qualifying pair still matches exactly once
    * (the partner's bucket is unique and the two probed buckets are
    * distinct). */
  def joinRange(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
    val a = e.select(col("user_id").as("a_user"), col("ts").as("a_ts"),
      col("event_type").as("type_a"))
      .withColumn("a_bkt", explode(array(
        floor(col("a_ts").cast("long") / 600L),
        floor(col("a_ts").cast("long") / 600L) + 1L)))
    val b = e.select(col("user_id").as("b_user"), col("ts").as("b_ts"),
      col("event_type").as("type_b"))
      .withColumn("b_bkt", floor(col("b_ts").cast("long") / 600L))
    a.join(b, col("a_user") === col("b_user")
        && col("a_bkt") === col("b_bkt")
        && col("b_ts") > col("a_ts")
        && col("b_ts") <= col("a_ts") + expr("INTERVAL 10 MINUTES"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** As-of join: for each error event, the most recent signup of the
    * same user at-or-before it. Implemented with the scalable
    * union-and-carry-forward formulation (one shuffle by user, no join
    * blowup) — see [[graft.operators.AsOf]]. Oracle: DuckDB ASOF JOIN. */
  def joinAsOf(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
    val errors = e.filter(col("event_type") === "error")
      .select("event_id", "user_id", "ts")
    val signups = e.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"))
    graft.operators.AsOf.leftAsOf(
        errors, signups, Seq("user_id"), "ts", "ts", "signup_ts")
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("error_at"),
        date_format(col("signup_ts"), "yyyy-MM-dd HH:mm:ss").as("signup_at"))
  }

  /** Forward as-of: for each error event, the EARLIEST signup of the
    * same user at-or-after it — the "next scheduled event" direction
    * of [[graft.operators.AsOf.leftAsOfForward]]. Same single-shuffle
    * union-and-carry plan as `join_asof`, traversed descending. */
  def joinAsOfForward(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
    val errors = e.filter(col("event_type") === "error")
      .select("event_id", "user_id", "ts")
    val signups = e.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"))
    graft.operators.AsOf.leftAsOfForward(
        errors, signups, Seq("user_id"), "ts", "ts", "next_signup_ts")
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("error_at"),
        date_format(col("next_signup_ts"), "yyyy-MM-dd HH:mm:ss")
          .as("next_signup_at"))
  }

  /** Nearest as-of: closest signup in either direction, equidistant
    * ties pinned to the backward match ([[graft.operators.AsOf
    * .leftAsOfNearest]]) — engines disagree on nearest-tie semantics,
    * so the operator (and the oracle, identically) decides. */
  def joinAsOfNearest(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
    val errors = e.filter(col("event_type") === "error")
      .select("event_id", "user_id", "ts")
    val signups = e.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"))
    graft.operators.AsOf.leftAsOfNearest(
        errors, signups, Seq("user_id"), "ts", "ts", "nearest_signup_ts")
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("error_at"),
        date_format(col("nearest_signup_ts"), "yyyy-MM-dd HH:mm:ss")
          .as("nearest_signup_at"))
  }

  /** Pure theta (inequality-only) join — bounded to the two dimension
    * tables, where a nested-loop is the right plan; a fact-scale theta
    * join would instead be banded into an equi-join on a bucket key
    * (see joinRange for that pattern). */
  def joinTheta(s: SparkSession, dir: String): DataFrame = {
    val n = Tables.load(s, dir, "nation")
    val r = Tables.load(s, dir, "region")
    n.join(broadcast(r), col("n_regionkey") < col("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_nations_below"))
  }

  // ------------------------------------------------------------- windows

  /** Top-3 orders by price per priority class (row_number top-k). */
  def winTopkPerGroup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.load(s, dir, "orders")
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select("o_orderpriority", "rn", "o_orderkey", "o_totalprice")
  }

  /** lag/lead: per-user event-over-event value delta (the reference's
    * `Change` column recomputed from `Price`, reference dump_bigq.py:124-127,
    * generalized to the events table). event_id is the per-user sequence
    * (monotone in ts), so ordering by it sidesteps the ns-vs-us timestamp
    * precision gap between Spark and the oracle. */
  def winLagLead(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    Tables.load(s, dir, "events").select(
      col("event_id"), col("user_id"),
      // Raw: a single subtraction of identical doubles is bit-identical
      // on both engines; rounding it per-engine only adds boundary risk.
      (col("value") - lag(col("value"), 1).over(w)).as("delta_prev"),
      (lead(col("value"), 1).over(w) - col("value")).as("delta_next"))
  }

  /** 7-row moving average of order value per customer. The frame sum is
    * decimal-pinned (sliding-window engines are free to accumulate in
    * any association — Spark's running add vs DuckDB's segment tree —
    * so a double frame sum is NOT order-stable), and the sum/count
    * quotient is then bit-identical and emitted raw. */
  def winMovingAvg(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(-6, 0)
    Tables.load(s, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"),
      (sum(d18(col("o_totalprice"))).over(w).cast(DoubleType)
        / count(lit(1)).over(w)).as("ma7"))
  }

  /** first/last value per supplier over its full shipping history. */
  def winFirstLast(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_suppkey")
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.load(s, dir, "lineitem").select(
        col("l_suppkey"),
        first(col("l_extendedprice")).over(w).as("first_price"),
        last(col("l_extendedprice")).over(w).as("last_price"))
      .distinct()
  }

  /** Cumulative per-supplier shipped quantity. The window order carries
    * l_quantity as the final tiebreak: the synthetic fixture contains
    * duplicate (suppkey, shipdate, orderkey, linenumber) rows with
    * DIFFERENT quantities, and without a total order the running sum's
    * value assignment at the tie is engine-dependent. */
  def winCumSum(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_suppkey")
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"))
      .rowsBetween(Window.unboundedPreceding, 0)
    Tables.load(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
      round(sum(col("l_quantity")).over(w), 4).as("cum_qty"))
  }

  /** rank/dense_rank with ties: top-10 account balances per segment. */
  def winRank(s: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy("c_mktsegment").orderBy(col("c_acctbal").desc)
    Tables.load(s, dir, "customer")
      .withColumn("rnk", rank().over(ord).cast("long"))
      .withColumn("drnk", dense_rank().over(ord).cast("long"))
      .filter(col("rnk") <= 10)
      .select("c_mktsegment", "rnk", "drnk", "c_custkey", "c_acctbal")
  }

  /** ntile quartiles of order value per priority. */
  def winNtile(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.load(s, dir, "orders")
      .select(col("o_orderpriority"), ntile(4).over(w).cast("long").as("quartile"),
        col("o_orderkey"))
  }

  /** Pivot order counts: priorities × status columns. Pivot with an
    * explicit value list — at scale the values MUST be pinned (an
    * unpinned pivot runs a distinct scan first). */
  def aggPivot(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("F"),
        coalesce(col("O"), lit(0L)).as("O"),
        coalesce(col("P"), lit(0L)).as("P"))

  /** Unpivot (melt) wide metric columns to long form. */
  def reshapeUnpivot(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice")),
        "metric", "value")

  /** Time-based RANGE frame: per-user rolling 1-hour sum over event
    * values (epoch-second ordering so ties resolve identically in the
    * oracle). */
  def winRangeFrame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("epoch"))
      .rangeBetween(-3600, 0)
    Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("epoch"), col("value"))
      .select(col("event_id"), col("user_id"),
        // Decimal-pinned frame sum (RANGE frames accumulate in
        // engine-chosen association), quotient-free so emitted raw.
        sum(d18(col("value"))).over(w).cast(DoubleType).as("rolling_1h"))
  }

  // --------------------------------------------------------- sort / limit

  /** Global top-100 orders by price (unique tiebreak for determinism). */
  def sortTopN(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderdate").cast("date").as("o_date"))

  /** sortWithinPartitions: partition-local sort (no global shuffle); the
    * result *set* is the projection — order is a physical property. */
  def sortWithinParts(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .repartition(col("l_suppkey"))
      .sortWithinPartitions(col("l_suppkey"), col("l_shipdate"))
      .select("l_orderkey", "l_linenumber", "l_suppkey", "l_quantity")

  // -------------------------------------------------------------- set ops

  private def sliceHighValue(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders").filter(col("o_totalprice") > 200000)
      .select("o_orderkey", "o_orderstatus", "o_orderpriority")

  private def sliceUrgent(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey", "o_orderstatus", "o_orderpriority")

  /** UNION ALL of two overlapping slices (duplicates preserved). */
  def setopUnionAll(s: SparkSession, dir: String): DataFrame =
    sliceHighValue(s, dir).unionByName(sliceUrgent(s, dir))

  /** UNION DISTINCT of the same slices. */
  def setopUnionDistinct(s: SparkSession, dir: String): DataFrame =
    sliceHighValue(s, dir).unionByName(sliceUrgent(s, dir)).distinct()

  /** INTERSECT: high-value AND urgent. */
  def setopIntersect(s: SparkSession, dir: String): DataFrame =
    sliceHighValue(s, dir).intersect(sliceUrgent(s, dir))

  /** EXCEPT: high-value but not urgent. */
  def setopExcept(s: SparkSession, dir: String): DataFrame =
    sliceHighValue(s, dir).except(sliceUrgent(s, dir))

  // ------------------------------------------------------ round-3 adds

  /** The skew-salting operator ([[graft.operators.Salting]]) as a graded
    * query: salting must be invisible in the result, so the oracle is
    * the PLAIN join — any dup/loss from the salt handling breaks the
    * hash compare. */
  def joinSalted(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem").select("l_suppkey", "l_quantity")
    val sup = Tables.load(s, dir, "supplier").select("s_suppkey", "s_nationkey")
    graft.operators.Salting.saltedEquiJoin(li, sup, "l_suppkey", "s_suppkey", 8)
      .groupBy("s_nationkey")
      .agg(dsum(d18(col("l_quantity"))).as("sum_qty"),
        count(lit(1)).as("n_items"))
  }

  /** Exact median + quartiles (interpolating percentile). Inputs are
    * 2-decimal money, so interpolated values carry ≤4 decimals and the
    * round(4) is representation-stabilizing, never midpoint-resolving.
    * Computed census-style ([[graft.operators.ExactPercentile]]):
    * l_extendedprice is ~97% distinct, so the Percentile aggregate's
    * per-partition value→count maps are the whole column with no
    * map-side reduction — the census spelling shuffles each distinct
    * value once and picks ranks relationally, bit-identical values. */
  def aggMedian(s: SparkSession, dir: String): DataFrame =
    graft.operators.ExactPercentile.of(
        Tables.load(s, dir, "lineitem"), Seq("l_returnflag"),
        col("l_extendedprice"),
        Seq(0.25 -> "p25", 0.5 -> "p50", 0.75 -> "p75"))
      .select(col("l_returnflag"),
        round(col("p25"), 4).as("p25_price"),
        round(col("p50"), 4).as("med_price"),
        round(col("p75"), 4).as("p75_price"))

  /** percent_rank + cume_dist: both are single-division doubles of the
    * same integers on either engine — bit-identical, so they are
    * emitted RAW (an integer ratio CAN sit exactly on a rounding
    * boundary; a per-engine round(6) would flip there). */
  def winPercentRank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority").orderBy(col("o_totalprice"))
    Tables.load(s, dir, "orders").select(
      col("o_orderkey"), col("o_orderpriority"),
      percent_rank().over(w).as("pct_rank"),
      cume_dist().over(w).as("cume"))
  }

  /** Grouped list aggregation, emitted as a sorted comma-joined string:
    * collect_list has no deterministic order under parallel execution,
    * so the sort is part of the operator's contract (and what makes it
    * oracle-comparable). */
  def aggCollectList(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "customer")
      .filter(col("c_acctbal") > 9000)
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n"),
        array_join(transform(array_sort(collect_list(col("c_custkey"))),
          x => x.cast("string")), ",").as("custkeys"))

  /** Event funnel: per user, first view → first click at-or-after it →
    * first purchase at-or-after that. Three min-aggregations chained by
    * left joins on the same key — one partitioning reused end to end,
    * no window over the raw event stream. */
  def eventsFunnel(s: SparkSession, dir: String): DataFrame = {
    val fmt = "yyyy-MM-dd HH:mm:ss"
    val e = Tables.load(s, dir, "events")
    def firstAfter(etype: String, prev: DataFrame, prevTs: String,
        outTs: String): DataFrame =
      e.filter(col("event_type") === etype)
        .join(prev, "user_id")
        .filter(col("ts") >= col(prevTs))
        .groupBy("user_id").agg(min(col("ts")).as(outTs))
    val views = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("v_ts"))
    val clicks = firstAfter("click", views, "v_ts", "c_ts")
    val purchases = firstAfter("purchase", clicks, "c_ts", "p_ts")
    views
      .join(clicks.select("user_id", "c_ts"), Seq("user_id"), "left")
      .join(purchases.select("user_id", "p_ts"), Seq("user_id"), "left")
      .select(col("user_id"),
        date_format(col("v_ts"), fmt).as("first_view"),
        date_format(col("c_ts"), fmt).as("first_click"),
        date_format(col("p_ts"), fmt).as("first_purchase"))
  }

  /** Fuzzy name matching with the native codegen'd
    * [[graft.plans.JaroWinkler]] expression (entity-resolution
    * primitive; semantics pinned to DuckDB's jaro_winkler_similarity).
    * Levenshtein rides along from the built-in function family.
    * Similarities are emitted RAW — both engines produce bit-identical
    * doubles, and engine-side rounding reintroduces midpoint skew. */
  def fuzzyMatch(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer").select(col("c_custkey"), col("c_name"))
    val sup = Tables.load(s, dir, "supplier").select(col("s_suppkey"), col("s_name"))
    c.join(sup, col("c_custkey") === col("s_suppkey"))
      .select(col("c_custkey"),
        call_function("jaro_winkler", col("c_name"), col("s_name"))
          .as("jw_name"),
        call_function("jaro_winkler", reverse(col("c_name")), col("s_name"))
          .as("jw_rev"),
        levenshtein(col("c_name"), col("s_name")).cast("long").as("lev"))
  }

  /** Referential-integrity audit across the star schema: orphan counts
    * per FK edge via left-anti joins — the warehouse-load health check
    * beside [[graft.etl.StockEtl.etlProfile]]'s column profile. */
  def etlIntegrity(s: SparkSession, dir: String): DataFrame = {
    def orphans(name: String, child: DataFrame, parent: DataFrame,
        ck: String, pk: String): DataFrame =
      child.select(col(ck)).join(parent.select(col(pk)),
          col(ck) === col(pk), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
        .select(lit(name).as("fk_edge"), col("n_orphans"))
    orphans("lineitem->orders", Tables.load(s, dir, "lineitem"), Tables.load(s, dir, "orders"),
        "l_orderkey", "o_orderkey")
      .unionByName(orphans("orders->customer", Tables.load(s, dir, "orders"),
        Tables.load(s, dir, "customer"), "o_custkey", "c_custkey"))
      .unionByName(orphans("customer->nation", Tables.load(s, dir, "customer"),
        Tables.load(s, dir, "nation"), "c_nationkey", "n_nationkey"))
      .unionByName(orphans("supplier->nation", Tables.load(s, dir, "supplier"),
        Tables.load(s, dir, "nation"), "s_nationkey", "n_nationkey"))
  }

  /** Cohort retention: users grouped by first-seen week, counted as
    * active per subsequent week offset. Two aggregations and one join,
    * all hash-partitioned by user — the standard distributed retention
    * shape (no per-user window over raw events). */
  def eventsRetention(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
    val firsts = e.groupBy("user_id").agg(min(col("wk")).as("cohort_wk"))
    e.distinct()
      .join(firsts, "user_id")
      .select(col("user_id"),
        date_format(col("cohort_wk"), "yyyy-MM-dd").as("cohort_week"),
        (datediff(col("wk"), col("cohort_wk")) / 7).cast("long")
          .as("week_offset"))
      .groupBy("cohort_week", "week_offset")
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** Statistical aggregates (stddev / correlation / covariance).
    * Magnitudes are chosen so cross-engine divergence (~1e-12 relative,
    * merge-based moments vs sequential) stays far under the rounding
    * step; variance-scale outputs (≥1e8) are deliberately excluded. */
  def aggStats(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        round(stddev_samp(col("l_extendedprice")), 4).as("sd_price"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("cov_qty_disc"),
        count(lit(1)).as("n"))

  /** CDC-style merge upsert: a base snapshot plus a change set (updates
    * win by version), resolved with one row_number per key — the
    * standard distributed MERGE shape: one shuffle on the key, no
    * driver involvement. Money flows through DECIMAL(18,4) (a 1.1×
    * price bump adds one decimal digit, still exact at scale 4). */
  def etlUpsert(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        d18(col("o_totalprice")).as("price"), lit(1).as("version"))
    val updates = Tables.load(s, dir, "orders")
      .filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
        (d18(col("o_totalprice")) * d8(lit(1.1)))
          .cast(DecimalType(18, 4)).as("price"),
        lit(2).as("version"))
    val w = Window.partitionBy("o_orderkey").orderBy(col("version").desc)
    base.unionByName(updates)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), dsum(col("price")).as("total"))
  }

  /** Fixed-width histogram via an arithmetic bucket id (floor of a
    * single double division — identical on any engine, unlike
    * width_bucket variants). One map-side-combining aggregation. */
  def aggHistogram(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .select(floor(col("l_extendedprice") / 10000).cast("long").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"))

  /** Windows long tail: nth_value over a running frame and lag/lead
    * with explicit defaults. Values are copied, never computed, so no
    * rounding is involved. */
  def winMisc(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority").orderBy("o_orderkey")
    val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(s, dir, "orders").select(
      col("o_orderkey"), col("o_orderpriority"),
      nth_value(col("o_totalprice"), 3).over(running).as("nth3"),
      lag(col("o_totalprice"), 2, -1.0).over(w).as("lag2_dflt"),
      lead(col("o_totalprice"), 2, -1.0).over(w).as("lead2_dflt"))
  }

  /** Distinct count over a sliding row frame — Spark has no
    * COUNT(DISTINCT) OVER, so the frame collects into a set and takes
    * its size: per event, how many distinct event types the user's
    * last 5 events span. Set size is bounded by the type cardinality
    * (5 here), so frame state stays O(distinct), not O(frame). */
  def winDistinctWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(-4, Window.currentRow)
    Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_type"))
      .select(col("event_id"), col("user_id"),
        size(collect_set(col("event_type")).over(w)).cast("long")
          .as("n_distinct_5"))
  }

  /** Null-safe equality join (`<=>`): plain `=` drops every null key
    * on both sides; `<=>` lets null groups match each other — the
    * semantics a dimension join needs when "unknown" is itself a valid
    * bucket. Nation 5 is nulled on both sides to exercise the match. */
  def joinNullSafe(s: SparkSession, dir: String): DataFrame = {
    val a = Tables.load(s, dir, "customer")
      .select(nullif(col("c_nationkey"), lit(5)).as("k"))
      .groupBy("k").agg(count(lit(1)).as("n_cust"))
    val b = Tables.load(s, dir, "supplier")
      .select(nullif(col("s_nationkey"), lit(5)).as("bk"))
      .groupBy("bk").agg(count(lit(1)).as("n_supp"))
    a.join(b, a("k") <=> b("bk"))
      .select(col("k"), col("n_cust"), col("n_supp"))
  }

  /** Deterministic pseudonymization: salted SHA-256 over the user key
    * preserves identity structure (same user → same token, distinct
    * count unchanged) while severing the raw id — the GDPR-style mask
    * a shared 100 TB analytics copy ships with. The graded row proves
    * cardinality preservation and pins an actual token so the hash
    * bytes themselves are oracle-checked, not just the counts. */
  def etlMaskPseudonym(s: SparkSession, dir: String): DataFrame = {
    val masked = Tables.load(s, dir, "events")
      .select(col("user_id"),
        sha2(concat(col("user_id").cast("string"), lit(":pepper")), 256)
          .as("token"))
    masked.agg(
      countDistinct(col("user_id")).as("n_users"),
      countDistinct(col("token")).as("n_tokens"),
      (countDistinct(col("user_id")) === countDistinct(col("token")))
        .as("cardinality_preserved"),
      min(col("token")).as("min_token"))
  }

  /** Rolling z-score over a trailing row frame — the streaming-shaped
    * anomaly score of the reference's stock analytics (how far is
    * today's value from its own recent mean, in recent-volatility
    * units). Sample stddev needs ≥2 frame rows; earlier rows surface
    * null, not a fake zero.
    *
    * Determinism: never round an incremental mean/variance — Spark's
    * and DuckDB's windowed avg/stddev_samp differ by ulps and
    * `round(…, 4)` flips on midpoint-adjacent values (the exact
    * failure class of round 6's red row). Instead both sides compute
    * the frame sums n, Σx, Σx² EXACTLY through DECIMAL(18,4)
    * accumulation, convert once to double, and derive
    * z = (x − Σx/n) / sqrt((n·Σx² − (Σx)²)/(n·(n−1))) with the same
    * expression tree — identical IEEE ops over identical bits. A
    * zero-variance frame surfaces null, matching the stddev path.
    *
    * z is emitted RAW (no `round`): Spark rounds doubles via exact
    * BigDecimal HALF_UP while DuckDB multiplies by 10⁴ in binary, so
    * a per-engine `round(z, 4)` flips at rounding boundaries even
    * when z itself is bit-identical (the round-6/7 red-row cause —
    * same rule as `llm_dataset_card`'s raw `dup_ratio`). */
  def winRollingZscore(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(-9, Window.currentRow)
    val dec = col("value").cast(DecimalType(18, 4))
    val nD = col("n").cast(DoubleType)
    val variance = (nD * col("sxx") - col("sx") * col("sx")) /
      (nD * (nD - lit(1.0d)))
    Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"), col("value"))
      .withColumn("n", count(col("value")).over(w))
      .withColumn("sx", sum(dec).over(w).cast(DoubleType))
      .withColumn("sxx", sum(dec * dec).over(w).cast(DoubleType))
      .select(col("event_id"), col("user_id"),
        when(col("n") >= 2 && variance > 0d,
          (col("value") - col("sx") / nD) / sqrt(variance))
          .as("z"))
  }

  /** Ordered string aggregation (LISTAGG … WITHIN GROUP, new in Spark
    * 4): the report-friendly cousin of collect_list — an explicit
    * in-group ORDER BY makes the concatenation deterministic under any
    * partitioning. */
  def aggListagg(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(
        expr("listagg(DISTINCT o_orderstatus, ',') " +
          "WITHIN GROUP (ORDER BY o_orderstatus)").as("statuses"),
        count(lit(1)).as("n"))

  /** Boolean/filtered aggregate long tail: count_if, bool_and/bool_or,
    * and FILTER-style conditional sums — all exact, all map-side
    * combinable. */
  def aggBoolMisc(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        expr("count_if(l_quantity > 25)").as("n_high"),
        bool_and(col("l_quantity") > 0).as("all_pos"),
        bool_or(col("l_discount") > 0.09).as("any_deep_disc"),
        count(when(col("l_tax") > 0.05, 1)).as("n_taxed"),
        dsum2(when(col("l_quantity") > 25, d18(col("l_extendedprice")))
          .otherwise(lit(null))).as("high_qty_price"))

  /** Multiset set ops: EXCEPT ALL / INTERSECT ALL preserve duplicate
    * counts (bag semantics), unlike their DISTINCT counterparts. */
  def setopMultiset(s: SparkSession, dir: String): DataFrame = {
    val a = Tables.load(s, dir, "lineitem").select(col("l_suppkey"), col("l_returnflag"))
    val b = Tables.load(s, dir, "lineitem")
      .filter(col("l_quantity") > 25)
      .select(col("l_suppkey"), col("l_returnflag"))
    a.exceptAll(b)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_except_all"))
      .join(
        a.intersectAll(b).groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_intersect_all")),
        Seq("l_returnflag"), "full")
  }

  /** Keyless point-in-interval COUNTING: per event type, how many
    * (event, error-window) containments exist and how many distinct
    * events sit inside at least one error's 15-minute incident window,
    * across ALL users.
    *
    * The r12 shape enumerated the pairs (bucketed equi-join,
    * [[graft.operators.IntervalJoin]]) and aggregated them away — but
    * over a fixed fixture time span, densifying events makes the PAIR
    * STREAM inherently quadratic (measured 15.1× on 10× data), for an
    * output that is five counter rows. Counting does not need the
    * pairs: coverage(p) = #window-starts ≤ p − #window-ends ≤ p is a
    * RUNNING SUM over the merged boundary/point stream, so n_hits =
    * Σ_points coverage and n_events = #points with coverage > 0 — one
    * linear sweep, planned as [[graft.operators.ScalableNtile
    * .withRunningSum]]'s parallel bucket decomposition (no single-task
    * window, no pair materialization). Tie discipline: `kind` orders
    * window deltas BEFORE the points they tie with, so lo ≤ p is
    * inclusive and hi ≤ p subtracts exactly the windows with hi = p
    * (half-open [lo, hi)); point rows carry delta 0, so peer points at
    * one timestamp cannot disturb each other. Oracle: the plain theta
    * join (DuckDB plans it as an IEJoin) — identical output, the
    * engines just differ in HOW they count. */
  def joinInterval(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
    val us = unix_micros(col("ts"))
    val deltas = e.filter(col("event_type") === "error")
      .select(us.as("sweep_us"), lit(0).as("kind"), lit(1L).as("delta"),
        lit(null).cast("string").as("event_type"))
      .unionByName(e.filter(col("event_type") === "error")
        .select((us + lit(900000000L)).as("sweep_us"), lit(0).as("kind"),
          lit(-1L).as("delta"), lit(null).cast("string").as("event_type")))
    val pts = e.select(us.as("sweep_us"), lit(1).as("kind"),
      lit(0L).as("delta"), col("event_type"))
    val covered = graft.operators.ScalableNtile.withRunningSum(
      deltas.unionByName(pts), Nil, col("sweep_us"), Seq(col("kind")),
      col("delta"), "coverage")
    covered.filter(col("kind") === 1)
      .groupBy("event_type")
      .agg(sum(col("coverage")).as("n_hits"),
        count(when(col("coverage") > 0, 1)).as("n_events"))
  }

  /** Count-min sketch frequency estimates ([[graft.plans.CountMinSketch]],
    * a native TypedImperativeAggregate): bounds-checked like the other
    * sketch queries — the estimate must sit in [exact, exact + 8·N/width]
    * (CMS guarantees overestimate-only; the margin is ~8× the expected
    * collision mass, far above the e^-depth tail). Oracle emits the
    * exact counts plus literal TRUE. */
  def aggCms(s: SparkSession, dir: String): DataFrame = {
    Tables.sql(s, dir,
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN l_quantity = 1 THEN 1 ELSE 0 END) AS BIGINT) AS exact_q1,
        |  CAST(SUM(CASE WHEN l_quantity = 25 THEN 1 ELSE 0 END) AS BIGINT) AS exact_q25,
        |  (cms_estimate(CAST(l_quantity AS BIGINT), 1, 4, 2048)
        |     >= SUM(CASE WHEN l_quantity = 1 THEN 1 ELSE 0 END)
        |   AND cms_estimate(CAST(l_quantity AS BIGINT), 1, 4, 2048)
        |     <= SUM(CASE WHEN l_quantity = 1 THEN 1 ELSE 0 END) + 8.0 * COUNT(*) / 2048
        |   AND cms_estimate(CAST(l_quantity AS BIGINT), 25, 4, 2048)
        |     >= SUM(CASE WHEN l_quantity = 25 THEN 1 ELSE 0 END)
        |   AND cms_estimate(CAST(l_quantity AS BIGINT), 25, 4, 2048)
        |     <= SUM(CASE WHEN l_quantity = 25 THEN 1 ELSE 0 END) + 8.0 * COUNT(*) / 2048)
        |    AS cms_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)
  }

  // ---------------------------------------------------------------- maps

  // DuckDB oracle twins. Column names and value canonicalization match
  // the Spark side exactly (decimal-exact sums, round(…,4), string-
  // formatted timestamps).
  //
  // Sums are ROUNDED IN DECIMAL (to 2) before the double cast: DuckDB's
  // wide-decimal → double conversion is not correctly rounded (it can be
  // 1 ulp off Java's BigDecimal.doubleValue at 10+ significant digits,
  // observed on sum_charge ~4.6e9 scale-12 at sf0.1); a 2-decimal value
  // at that magnitude converts exactly the same way in both engines.
  private val sumQty =
    "CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE)"
  private val sumPrice =
    "CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE)"
  private val sumDisc =
    "CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(8,4))), 2) AS DOUBLE)"
  private val sumCharge =
    "CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(8,4)) * CAST(1 + l_tax AS DECIMAL(8,4))), 2) AS DOUBLE)"

  val queries: Seq[QueryDef] = Seq(
    QueryDef("agg_cms", aggCms,
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN l_quantity = 1 THEN 1 ELSE 0 END) AS BIGINT) AS exact_q1,
        |  CAST(SUM(CASE WHEN l_quantity = 25 THEN 1 ELSE 0 END) AS BIGINT) AS exact_q25,
        |  TRUE AS cms_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    QueryDef("agg_histogram", aggHistogram,
      """SELECT CAST(FLOOR(l_extendedprice / 10000) AS BIGINT) AS bucket,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY 1""".stripMargin),
    QueryDef("join_interval", joinInterval,
      """WITH e AS (SELECT event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events),
        |w AS (SELECT ts AS lo, ts + INTERVAL 15 MINUTE AS hi
        |      FROM e WHERE event_type = 'error')
        |SELECT e.event_type, COUNT(*) AS n_hits,
        |  COUNT(DISTINCT e.event_id) AS n_events
        |FROM e JOIN w ON e.ts >= w.lo AND e.ts < w.hi
        |GROUP BY 1""".stripMargin),
    QueryDef("win_misc", winMisc,
      """SELECT o_orderkey, o_orderpriority,
        |  nth_value(o_totalprice, 3) OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_orderkey ROWS UNBOUNDED PRECEDING) AS nth3,
        |  lag(o_totalprice, 2, -1.0) OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_orderkey) AS lag2_dflt,
        |  lead(o_totalprice, 2, -1.0) OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_orderkey) AS lead2_dflt
        |FROM orders""".stripMargin),
    QueryDef("win_distinct_window", winDistinctWindow,
      """SELECT event_id, user_id,
        |  COUNT(DISTINCT event_type) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id
        |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS n_distinct_5
        |FROM events""".stripMargin),
    QueryDef("agg_bool_misc", aggBoolMisc,
      """SELECT l_returnflag,
        |  COUNT(*) FILTER (WHERE l_quantity > 25) AS n_high,
        |  bool_and(l_quantity > 0) AS all_pos,
        |  bool_or(l_discount > 0.09) AS any_deep_disc,
        |  COUNT(*) FILTER (WHERE l_tax > 0.05) AS n_taxed,
        |  CAST(ROUND(SUM(CASE WHEN l_quantity > 25
        |    THEN CAST(l_extendedprice AS DECIMAL(18,4)) END), 2) AS DOUBLE)
        |    AS high_qty_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    // Existence join: an IN-subquery inside a disjunction can't become
    // a plain semi join (rows may pass on the other disjunct alone), so
    // Catalyst plans an ExistenceJoin — the semi join variant that adds
    // an exists flag instead of filtering. The aggregate keys on the
    // flag, proving both disjunct paths flow through.
    QueryDef.sql("join_existence",
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
        |    AS sum_price
        |FROM orders
        |WHERE o_totalprice > 300000
        |   OR o_orderkey IN (SELECT l_orderkey FROM lineitem
        |                     WHERE l_quantity > 49)
        |GROUP BY o_orderpriority""".stripMargin),
    QueryDef("join_null_safe", joinNullSafe,
      """WITH a AS (SELECT nullif(c_nationkey, 5) AS k, COUNT(*) AS n_cust
        |           FROM customer GROUP BY 1),
        |b AS (SELECT nullif(s_nationkey, 5) AS bk, COUNT(*) AS n_supp
        |      FROM supplier GROUP BY 1)
        |SELECT k, n_cust, n_supp
        |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.bk""".stripMargin),
    QueryDef("etl_mask_pseudonym", etlMaskPseudonym,
      """SELECT COUNT(DISTINCT user_id) AS n_users,
        |  COUNT(DISTINCT sha256(CAST(user_id AS VARCHAR) || ':pepper')) AS n_tokens,
        |  COUNT(DISTINCT user_id) = COUNT(DISTINCT sha256(CAST(user_id AS VARCHAR) || ':pepper'))
        |    AS cardinality_preserved,
        |  MIN(sha256(CAST(user_id AS VARCHAR) || ':pepper')) AS min_token
        |FROM events""".stripMargin),
    QueryDef("win_rolling_zscore", winRollingZscore,
      """WITH b AS (SELECT event_id, user_id, value,
        |    COUNT(value) OVER w AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))
        |             * CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sxx
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id
        |    ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id
        |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id,
        |  CASE WHEN n >= 2
        |        AND (n*sxx - sx*sx) / (n*(n-1.0)) > 0
        |       THEN (value - sx/n)
        |            / SQRT((n*sxx - sx*sx) / (n*(n-1.0)))
        |  END AS z
        |FROM b""".stripMargin),
    QueryDef("agg_listagg", aggListagg,
      """SELECT o_orderpriority,
        |  string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
        |    AS statuses,
        |  COUNT(*) AS n
        |FROM orders GROUP BY o_orderpriority""".stripMargin),
    // LATERAL correlated subquery join: every order row pairs with an
    // aggregate computed over ITS lineitems — the SQL surface for
    // per-row correlated computation; Catalyst decorrelates it into an
    // ordinary aggregate + join, so nothing is executed per-row.
    // Engines DISAGREE on lineitem-less orders (Spark keeps a NULL-mq
    // row, DuckDB's inner lateral drops it), so the query pins the
    // semantics explicitly with `WHERE mq IS NOT NULL`.
    QueryDef.sql("join_lateral",
      """SELECT o_orderpriority,
        |  CAST(SUM(CASE WHEN mq >= 45 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_big_max,
        |  COUNT(*) AS n
        |FROM orders o,
        |  LATERAL (SELECT MAX(l_quantity) AS mq FROM lineitem
        |           WHERE l_orderkey = o.o_orderkey)
        |WHERE mq IS NOT NULL
        |GROUP BY o_orderpriority""".stripMargin),
    QueryDef("setop_multiset", setopMultiset,
      """WITH a AS (SELECT l_suppkey, l_returnflag FROM lineitem),
        |b AS (SELECT l_suppkey, l_returnflag FROM lineitem
        |      WHERE l_quantity > 25),
        |ex AS (SELECT l_returnflag, COUNT(*) AS n_except_all
        |       FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
        |       GROUP BY 1),
        |ix AS (SELECT l_returnflag, COUNT(*) AS n_intersect_all
        |       FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
        |       GROUP BY 1)
        |SELECT COALESCE(ex.l_returnflag, ix.l_returnflag) AS l_returnflag,
        |  n_except_all, n_intersect_all
        |FROM ex FULL JOIN ix ON ex.l_returnflag = ix.l_returnflag""".stripMargin),
    QueryDef("events_funnel", eventsFunnel,
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events),
        |v AS (SELECT user_id, MIN(ts) AS v_ts FROM e
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, MIN(e.ts) AS c_ts FROM e
        |      JOIN v ON e.user_id = v.user_id AND e.ts >= v.v_ts
        |      WHERE e.event_type = 'click' GROUP BY 1),
        |p AS (SELECT e.user_id, MIN(e.ts) AS p_ts FROM e
        |      JOIN c ON e.user_id = c.user_id AND e.ts >= c.c_ts
        |      WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT v.user_id,
        |  strftime(v_ts, '%Y-%m-%d %H:%M:%S') AS first_view,
        |  strftime(c_ts, '%Y-%m-%d %H:%M:%S') AS first_click,
        |  strftime(p_ts, '%Y-%m-%d %H:%M:%S') AS first_purchase
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        |LEFT JOIN p ON v.user_id = p.user_id""".stripMargin),
    QueryDef("events_retention", eventsRetention,
      """WITH e AS (SELECT DISTINCT user_id,
        |             date_trunc('week', CAST(ts AS TIMESTAMP)) AS wk
        |           FROM events),
        |f AS (SELECT user_id, MIN(wk) AS cohort_wk FROM e GROUP BY 1)
        |SELECT strftime(cohort_wk, '%Y-%m-%d') AS cohort_week,
        |  CAST(date_diff('day', cohort_wk, wk) // 7 AS BIGINT) AS week_offset,
        |  COUNT(DISTINCT e.user_id) AS n_users
        |FROM e JOIN f ON e.user_id = f.user_id
        |GROUP BY 1, 2""".stripMargin),
    QueryDef("etl_integrity", etlIntegrity,
      """SELECT 'lineitem->orders' AS fk_edge, COUNT(*) AS n_orphans
        |FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
        |UNION ALL
        |SELECT 'orders->customer', COUNT(*)
        |FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
        |UNION ALL
        |SELECT 'customer->nation', COUNT(*)
        |FROM customer WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation)
        |UNION ALL
        |SELECT 'supplier->nation', COUNT(*)
        |FROM supplier WHERE s_nationkey NOT IN (SELECT n_nationkey FROM nation)""".stripMargin),
    QueryDef("llm_fuzzy_match", fuzzyMatch,
      """SELECT c_custkey,
        |  jaro_winkler_similarity(c_name, s_name) AS jw_name,
        |  jaro_winkler_similarity(reverse(c_name), s_name) AS jw_rev,
        |  levenshtein(c_name, s_name) AS lev
        |FROM customer JOIN supplier ON c_custkey = s_suppkey""".stripMargin),
    QueryDef("agg_stats", aggStats,
      """SELECT l_returnflag,
        |  ROUND(stddev_samp(l_extendedprice), 4) AS sd_price,
        |  ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        |  ROUND(covar_samp(l_quantity, l_discount), 6) AS cov_qty_disc,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    QueryDef("etl_upsert", etlUpsert,
      """WITH base AS (SELECT o_orderkey, o_orderstatus,
        |                CAST(o_totalprice AS DECIMAL(18,4)) AS price,
        |                1 AS version
        |              FROM orders),
        |updates AS (SELECT o_orderkey, 'U' AS o_orderstatus,
        |              CAST(CAST(o_totalprice AS DECIMAL(18,4))
        |                   * CAST(1.1 AS DECIMAL(8,4)) AS DECIMAL(18,4)) AS price,
        |              2 AS version
        |            FROM orders WHERE o_orderkey % 10 = 0),
        |merged AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
        |             ORDER BY version DESC) AS rn
        |           FROM (SELECT * FROM base UNION ALL SELECT * FROM updates))
        |SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(price) AS DOUBLE) AS total
        |FROM merged WHERE rn = 1 GROUP BY o_orderstatus""".stripMargin),
    QueryDef("join_salted", joinSalted,
      """SELECT s_nationkey,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey""".stripMargin),
    QueryDef("agg_median", aggMedian,
      """SELECT l_returnflag,
        |  ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25_price,
        |  ROUND(median(l_extendedprice), 4) AS med_price,
        |  ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS p75_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    QueryDef("win_percent_rank", winPercentRank,
      """SELECT o_orderkey, o_orderpriority,
        |  percent_rank() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_totalprice) AS pct_rank,
        |  cume_dist() OVER (PARTITION BY o_orderpriority
        |                    ORDER BY o_totalprice) AS cume
        |FROM orders""".stripMargin),
    QueryDef("agg_collect_list", aggCollectList,
      """SELECT c_nationkey, COUNT(*) AS n,
        |  array_to_string(list(c_custkey ORDER BY c_custkey), ',') AS custkeys
        |FROM customer WHERE c_acctbal > 9000
        |GROUP BY c_nationkey""".stripMargin),
    QueryDef("q1_agg", q1Agg,
      s"""SELECT l_returnflag, l_linestatus,
         |  $sumQty AS sum_qty,
         |  $sumPrice AS sum_base_price,
         |  $sumDisc AS sum_disc_price,
         |  $sumCharge AS sum_charge,
         |  $sumQty / COUNT(*) AS avg_qty,
         |  $sumPrice / COUNT(*) AS avg_price,
         |  CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem WHERE l_shipdate < TIMESTAMP '2001-01-01'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin),
    QueryDef("agg_count_distinct", aggCountDistinct,
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    QueryDef("agg_approx_cd", aggApproxCd,
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_exact, TRUE AS approx_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    QueryDef("agg_having", aggHaving,
      s"""SELECT l_suppkey, $sumQty AS total_qty, COUNT(*) AS n_items
         |FROM lineitem GROUP BY l_suppkey
         |HAVING $sumQty > 14000""".stripMargin),
    QueryDef("agg_approx_quantile", aggApproxQuantile,
      """SELECT l_returnflag,
        |  ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50_exact,
        |  ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90_exact,
        |  TRUE AS approx_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    QueryDef("agg_bitmap_distinct", aggBitmapDistinct,
      """SELECT l_returnflag, l_linestatus,
        |  COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),
    // ROLLUP over the region→nation customer hierarchy. Expressed via
    // spark.sql: Dataset.rollup after a join trips Spark 4.1's
    // ambiguous-self-join analyzer check even with fresh attributes
    // (the SQL analyzer path resolves the same plan fine). The dims are
    // far below autoBroadcastJoinThreshold, so both joins still plan as
    // BroadcastHashJoin.
    QueryDef.sql("agg_rollup",
      """SELECT r_name, n_name, COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)""".stripMargin),
    QueryDef("agg_cube", aggCube,
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin),
    QueryDef("agg_grouping_sets", aggGroupingSets,
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows, $sumQty AS sum_qty
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin),
    QueryDef("join_inner_star", joinInnerStar,
      s"""SELECT r_name, $sumDisc AS revenue, COUNT(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name""".stripMargin),
    QueryDef("join_left_agg", joinLeftAgg,
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
        |  CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 0) AS DOUBLE) AS total_spent
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_custkey""".stripMargin),
    QueryDef("join_right_agg", joinRightAgg,
      """SELECT p_partkey, p_brand, COUNT(l_orderkey) AS n_li
        |FROM lineitem RIGHT JOIN part ON l_partkey = p_partkey
        |GROUP BY p_partkey, p_brand""".stripMargin),
    QueryDef("join_full", joinFull,
      """WITH c AS (SELECT c_nationkey AS ck, COUNT(*) AS n_customers FROM customer GROUP BY 1),
        |     s AS (SELECT s_nationkey AS sk, COUNT(*) AS n_suppliers FROM supplier GROUP BY 1)
        |SELECT COALESCE(ck, sk) AS nationkey, n_customers, n_suppliers
        |FROM c FULL OUTER JOIN s ON ck = sk""".stripMargin),
    QueryDef("join_semi", joinSemi,
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')""".stripMargin),
    QueryDef("join_anti", joinAnti,
      """SELECT c_custkey, c_name, c_nationkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin),
    QueryDef("join_range", joinRange,
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events)
        |SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_pairs
        |FROM e a JOIN e b ON a.user_id = b.user_id
        |  AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
        |GROUP BY 1, 2""".stripMargin),
    QueryDef("join_asof", joinAsOf,
      """WITH err AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |             FROM events WHERE event_type = 'error'),
        |     sig AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
        |             FROM events WHERE event_type = 'signup')
        |SELECT err.event_id, err.user_id,
        |  strftime(err.ts, '%Y-%m-%d %H:%M:%S') AS error_at,
        |  strftime(sig.ts, '%Y-%m-%d %H:%M:%S') AS signup_at
        |FROM err ASOF LEFT JOIN sig
        |  ON err.user_id = sig.user_id AND err.ts >= sig.ts""".stripMargin),
    // Forward/nearest oracles avoid DuckDB's ASOF direction support and
    // recompute from conditional min/max aggregates per error row —
    // quadratic in the oracle only; the engine side stays linear.
    QueryDef("join_asof_forward", joinAsOfForward,
      """WITH err AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |             FROM events WHERE event_type = 'error'),
        |     sig AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
        |             FROM events WHERE event_type = 'signup')
        |SELECT e.event_id, e.user_id,
        |  strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS error_at,
        |  strftime(MIN(CASE WHEN s.ts >= e.ts THEN s.ts END),
        |           '%Y-%m-%d %H:%M:%S') AS next_signup_at
        |FROM err e LEFT JOIN sig s ON e.user_id = s.user_id
        |GROUP BY e.event_id, e.user_id, e.ts""".stripMargin),
    QueryDef("join_asof_nearest", joinAsOfNearest,
      """WITH err AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |             FROM events WHERE event_type = 'error'),
        |     sig AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
        |             FROM events WHERE event_type = 'signup'),
        |bt AS (SELECT e.event_id, e.user_id, e.ts,
        |           MAX(CASE WHEN s.ts <= e.ts THEN s.ts END) AS back,
        |           MIN(CASE WHEN s.ts >= e.ts THEN s.ts END) AS fwd
        |         FROM err e LEFT JOIN sig s ON e.user_id = s.user_id
        |         GROUP BY e.event_id, e.user_id, e.ts)
        |SELECT event_id, user_id,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS error_at,
        |  strftime(CASE
        |    WHEN back IS NULL THEN fwd
        |    WHEN fwd IS NULL THEN back
        |    WHEN epoch_us(ts) - epoch_us(back) <= epoch_us(fwd) - epoch_us(ts)
        |      THEN back ELSE fwd END, '%Y-%m-%d %H:%M:%S') AS nearest_signup_at
        |FROM bt""".stripMargin),
    QueryDef("join_theta", joinTheta,
      """SELECT r_name, COUNT(*) AS n_nations_below
        |FROM nation JOIN region ON n_regionkey < r_regionkey
        |GROUP BY r_name""".stripMargin),
    QueryDef("agg_pivot", aggPivot,
      """SELECT o_orderpriority,
        |  COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS F,
        |  COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS O,
        |  COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS P
        |FROM orders GROUP BY o_orderpriority""".stripMargin),
    QueryDef("reshape_unpivot", reshapeUnpivot,
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_extendedprice' AS metric, l_extendedprice AS value FROM lineitem""".stripMargin),
    QueryDef("win_range_frame", winRangeFrame,
      """WITH e AS (SELECT event_id, user_id,
        |             CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS epoch,
        |             value
        |           FROM events)
        |SELECT event_id, user_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
        |    PARTITION BY user_id ORDER BY epoch
        |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS rolling_1h
        |FROM e""".stripMargin),
    // Correlated scalar subquery: orders 1.5× above their customer's
    // average (decorrelated by Catalyst into an aggregate + join).
    QueryDef.sql("subq_correlated",
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders o
        |WHERE o_totalprice > 1.5 * (SELECT AVG(o2.o_totalprice)
        |                            FROM orders o2
        |                            WHERE o2.o_custkey = o.o_custkey)""".stripMargin),
    QueryDef("win_topk_per_group", winTopkPerGroup,
      """SELECT o_orderpriority, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin),
    QueryDef("win_lag_lead", winLagLead,
      """SELECT event_id, user_id,
        |  value - LAG(value, 1) OVER w AS delta_prev,
        |  LEAD(value, 1) OVER w - value AS delta_next
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id)""".stripMargin),
    QueryDef("win_moving_avg", winMovingAvg,
      """SELECT o_orderkey, o_custkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE)
        |    / COUNT(*) OVER w AS ma7
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin),
    QueryDef("win_first_last", winFirstLast,
      """SELECT DISTINCT l_suppkey,
        |  FIRST_VALUE(l_extendedprice) OVER w AS first_price,
        |  LAST_VALUE(l_extendedprice) OVER w AS last_price
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_suppkey
        |  ORDER BY l_shipdate, l_orderkey, l_linenumber
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin),
    QueryDef("win_cumsum", winCumSum,
      """SELECT l_orderkey, l_linenumber, l_suppkey,
        |  ROUND(SUM(l_quantity) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
        |    ROWS UNBOUNDED PRECEDING), 4) AS cum_qty
        |FROM lineitem""".stripMargin),
    QueryDef("win_rank", winRank,
      """SELECT c_mktsegment, rnk, drnk, c_custkey, c_acctbal FROM (
        |  SELECT c_mktsegment, c_custkey, c_acctbal,
        |    RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC) AS rnk,
        |    DENSE_RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC) AS drnk
        |  FROM customer) WHERE rnk <= 10""".stripMargin),
    QueryDef("win_ntile", winNtile,
      """SELECT o_orderpriority,
        |  NTILE(4) OVER (PARTITION BY o_orderpriority
        |                 ORDER BY o_totalprice, o_orderkey) AS quartile,
        |  o_orderkey
        |FROM orders""".stripMargin),
    QueryDef("sort_topn", sortTopN,
      """SELECT o_orderkey, o_totalprice, CAST(o_orderdate AS DATE) AS o_date
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin),
    QueryDef("sort_within_parts", sortWithinParts,
      "SELECT l_orderkey, l_linenumber, l_suppkey, l_quantity FROM lineitem"),
    QueryDef("setop_union_all", setopUnionAll,
      """SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders WHERE o_totalprice > 200000
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin),
    QueryDef("setop_union_distinct", setopUnionDistinct,
      """SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders WHERE o_totalprice > 200000
        |UNION
        |SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin),
    QueryDef("setop_intersect", setopIntersect,
      """SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders WHERE o_totalprice > 200000
        |INTERSECT
        |SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin),
    QueryDef("setop_except", setopExcept,
      """SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders WHERE o_totalprice > 200000
        |EXCEPT
        |SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin))
}
