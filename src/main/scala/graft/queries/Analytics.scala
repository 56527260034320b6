package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.QueryDef
import graft.core.Tables

/** Round-5 analytics surface: batch sessionization, last-touch
  * attribution, LLM chunking, collocation mining, outlier detection,
  * SCD2 dimension builds, and rule-based data-quality checks.
  *
  * Reference anchor: these generalize the warehouse-SQL layer the
  * reference delegates to BigQuery over its loaded table
  * (`dump_bigq.py:141-149`) — sessionization/attribution are the
  * event-analytics idioms, SCD2/DQ-rules the warehouse-maintenance
  * idioms, chunking/collocations the LLM-training-data idioms.
  *
  * Determinism rules follow graft.queries.Relational: integer
  * microseconds for time arithmetic (`unix_micros` ↔ DuckDB
  * `epoch_us`), decimal-pinned money sums, explicit total orders
  * under every window/limit, BIGINT casts on every count-ish column.
  */
object Analytics {

  /** Gap-based batch sessionization (30-minute inactivity splits), the
    * batch analog of Structured Streaming's session windows: a new
    * session starts when the gap to the previous event exceeds 30 min;
    * sessions then aggregate count/bounds/duration/value.
    *
    * Scale: two window passes and one aggregation, all partitioned by
    * `user_id` — a single hash-exchange reused by every step (Catalyst
    * collapses the two windows over the same ordering into one sort).
    */
  def eventsSessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    Tables.load(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("value"), col("event_id"))
      .withColumn("new_s",
        when(col("us") - lag("us", 1).over(w) > 1800000000L
          || lag("us", 1).over(w).isNull, 1).otherwise(0))
      .withColumn("sess",
        sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sess").cast("long").as("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        min("us").as("start_us"), max("us").as("end_us"),
        (max("us") - min("us")).as("dur_us"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double")
          .as("sum_value"))
  }

  /** Last-touch attribution: each purchase is credited to the user's
    * most recent preceding click/view (`last(..., ignoreNulls)` over an
    * unbounded-preceding frame — the IGNORE NULLS navigation idiom).
    * Purchases with no prior touch get -1, keeping the column
    * null-free for stable oracle hashing. */
  def eventsAttribution(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_type"))
      .withColumn("touch",
        last(when(col("event_type").isin("click", "view"), col("us")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("us").as("purchase_us"),
        coalesce(col("touch"), lit(-1L)).as("touch_us"),
        when(col("touch").isNull, -1L).otherwise(col("us") - col("touch"))
          .as("latency_us"))
  }

  /** Token-budget sliding-window chunking (size 48, stride 32, overlap
    * 16) — the standard LLM pretraining prep that turns documents into
    * fixed-size training sequences. `sequence`+`explode` manufactures
    * chunk starts; `slice`+`array_join` materializes each chunk.
    *
    * Scale: narrow per-row work, no shuffle at all — chunking 100 TB
    * is embarrassingly parallel and this plan keeps it that way. */
  def llmChunk(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), greatest(size(col("toks")) - 1, lit(0)),
          lit(32))).as("start"))
      .select(col("doc_id"),
        (col("start") / 32).cast("long").as("chunk_id"),
        array_join(slice(col("toks"), col("start") + 1, lit(48)), " ")
          .as("chunk_text"),
        least(lit(48), size(col("toks")) - col("start")).cast("long")
          .as("chunk_len"))

  /** Bigram collocation mining with PMI scoring: adjacent-token pairs
    * via `lead` over (doc, position), counts vs independence, top 20
    * by frequency (lexicographic tiebreak). The PMI expression is the
    * same text on both engines so the doubles agree bit-for-bit.
    *
    * Scale: the bigram count is a map-side-combinable groupBy on the
    * pair key; corpus totals broadcast back (two scalar rows). */
  def textCollocations(s: SparkSession, dir: String): DataFrame = {
    val pos = Tables.load(s, dir, "documents")
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .toDF("doc_id", "p", "tok")
    val bi = pos
      .withColumn("w2",
        lead("tok", 1).over(Window.partitionBy("doc_id").orderBy("p")))
      .filter(col("w2").isNotNull)
      .select(col("tok").as("w1"), col("w2"))
    val cnt = bi.groupBy("w1", "w2").agg(count(lit(1)).as("n"))
    val uni = pos.groupBy("tok").agg(count(lit(1)).as("nu"))
    val tot = cnt.agg(sum("n").as("nb"))
    val tu = uni.agg(sum("nu").as("nt"))
    // The unigram relation scales with |vocab| — no broadcast hint;
    // AQE sees its runtime size and picks broadcast only while it
    // fits, so the plan survives a 100× vocab scale-up. The two
    // scalar totals stay hinted (1 row each, always broadcastable).
    cnt.crossJoin(broadcast(tot)).crossJoin(broadcast(tu))
      .join(uni.select(col("tok").as("w1"), col("nu").as("nu1")), "w1")
      .join(uni.select(col("tok").as("w2"), col("nu").as("nu2")), "w2")
      .select(col("w1"), col("w2"), col("n"),
        // Raw: the integer ratios are IEEE-exact (bit-identical), and
        // the one LN agrees to a ulp — Math.log (JVM intrinsic) and
        // libm are each faithfully- but not correctly-rounded. Parity
        // rests on the harness's round-to-6 canonicalization absorbing
        // that ulp, NOT on the doubles matching bitwise; a per-engine
        // round here would re-introduce midpoint risk for no gain.
        expr("LN((n / nb) / ((nu1 / nt) * (nu2 / nt)))").as("pmi"))
      .orderBy(desc("n"), col("w1"), col("w2"))
      .limit(20)
  }

  /** Per-group z-score outlier detection: prices more than 1.5 sample
    * standard deviations from their supplier's mean. The stats side is
    * one row per supplier — broadcast back to the fact table, so the
    * fact side never shuffles.
    *
    * Determinism: the 1.5-sd cut is a FILTER, so a ulp of divergence
    * in an incremental avg/stddev doesn't just flip a rounded digit,
    * it flips row membership. Per the repo playbook the moments come
    * from exact decimal sums (n, Σx, Σx²) converted once to double and
    * combined with the same expression tree on both engines. Σx² is
    * rounded (exact decimal op, identical both sides) to scale 2 first:
    * its scale-8 unscaled value tops 2^53 where DuckDB's wide-decimal →
    * double conversion is 1 ulp off Java's (the dsum2 rule). */
  def aggZscore(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val st = li.groupBy("l_suppkey")
      .agg(count(col("l_extendedprice")).as("n"),
        sum(col("l_extendedprice").cast(DecimalType(18, 4)))
          .cast(DoubleType).as("sx"),
        round(sum(col("l_extendedprice").cast(DecimalType(18, 4))
            * col("l_extendedprice").cast(DecimalType(18, 4))), 2)
          .cast(DoubleType).as("sxx"))
      .select(col("l_suppkey"), col("n").cast(DoubleType).as("nd"),
        col("sx"), col("sxx"))
      .select(col("l_suppkey"), (col("sx") / col("nd")).as("mu"),
        sqrt((col("nd") * col("sxx") - col("sx") * col("sx")) /
          (col("nd") * (col("nd") - lit(1.0d)))).as("sd"))
    // st is one row PER SUPPLIER — it scales with a key, not a
    // constant, so no broadcast hint: AQE broadcasts it while its
    // runtime size allows and falls back to a shuffled join beyond
    // that, instead of OOMing the driver at a 100× supplier count.
    li.join(st, "l_suppkey")
      .withColumn("z0", (col("l_extendedprice") - col("mu")) / col("sd"))
      .filter(abs(col("z0")) > 1.5)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        // z emitted RAW: z0 is bit-identical (decimal-pinned moments),
        // and a per-engine round(…,4) flips at rounding boundaries —
        // the exact win_rolling_zscore failure mode.
        col("l_extendedprice"), col("z0").as("z"))
  }

  /** SCD2 (slowly-changing-dimension type 2) build: per-part daily
    * revenue versions with [valid_from, valid_to] intervals from
    * `lead`, open-ended current rows pinned to 9999-12-31. The daily
    * measure is a decimal-pinned SUM — exact, so no rounding traps.
    *
    * Scale: one exchange total. Pre-partitioning by `l_partkey` alone
    * satisfies BOTH the (partkey, day) grouping (hash-partitioning on a
    * subset of the grouping keys is a valid ClusteredDistribution) and
    * the part-keyed window, so the groupBy and the window both run
    * shuffle-free on top of it. */
  def etlScd2(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_partkey").orderBy("d")
    Tables.load(s, dir, "lineitem")
      .repartition(col("l_partkey"))
      .groupBy(col("l_partkey"), col("l_shipdate").cast("date").as("d"))
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)))
        .cast("double").as("price"))
      .select(col("l_partkey"), col("d").as("valid_from"),
        coalesce(date_sub(lead("d", 1).over(w), 1),
          lit("9999-12-31").cast("date")).as("valid_to"),
        col("price"),
        when(lead("d", 1).over(w).isNull, 1L).otherwise(0L)
          .as("is_current"))
  }

  /** TPC-H Q3 (shipping priority, adapted to the fixture schema —
    * no o_shippriority column): top-10 unshipped-revenue orders for
    * one market segment. Plan: lineitem's ship-date filter is pushed
    * to the scan, and the revenue sum is decimal-pinned then rounded
    * once — the deterministic tiebreak (revenue DESC, orderkey ASC)
    * makes the LIMIT 10 selection identical in both engines. The
    * filtered customer side carries NO broadcast hint: customer grows
    * with the scale factor, and a forced hint would pin a driver-side
    * build of a 1.5B-row relation at the 100 TB SF; unhinted, the
    * optimizer broadcasts it while its measured size allows and AQE
    * demotes to a shuffle join past the threshold. */
  def q3Shipping(s: SparkSession, dir: String): DataFrame = {
    val cut = lit("1998-01-01 00:00:00").cast("timestamp")
    val c = Tables.load(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val o = Tables.load(s, dir, "orders")
      .filter(col("o_orderdate") < cut)
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val l = Tables.load(s, dir, "lineitem")
      .filter(col("l_shipdate") > cut)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate")
      .agg(round(sum(col("l_extendedprice").cast(DecimalType(18, 4))
        * (lit(1) - col("l_discount")).cast(DecimalType(8, 4))), 2)
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
      .select(col("l_orderkey"), col("revenue"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"))
  }

  /** TPC-H Q5 (local supplier volume): revenue where the customer and
    * supplier share a nation, restricted to one region and year. Only
    * the nation side (constant 25 rows at every SF) keeps an explicit
    * broadcast hint; customer and supplier GROW with the scale factor,
    * so their join strategy is left to the optimizer — size-stat
    * broadcast at fixture scale, AQE demotion to shuffle joins at the
    * SFs where a forced build would OOM. */
  def q5LocalSupplier(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp")
        && col("o_orderdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val n = Tables.load(s, dir, "nation").join(
      Tables.load(s, dir, "region").filter(col("r_name") === "ASIA"),
      col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val c = Tables.load(s, dir, "customer").select("c_custkey", "c_nationkey")
    val sup = Tables.load(s, dir, "supplier").select("s_suppkey", "s_nationkey")
    Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(c, col("o_custkey") === col("c_custkey")
        && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_extendedprice").cast(DecimalType(18, 4))
          * (lit(1) - col("l_discount")).cast(DecimalType(8, 4))), 2)
          .cast("double").as("revenue"))
  }

  /** TPC-H Q10 (returned-item reporting): the top-20 customers by
    * revenue lost to returns in one quarter. Same dim discipline as
    * Q3/Q5 — nation hinted (constant-size), customer unhinted
    * (SF-growing; optimizer/AQE decides); the returnflag + quarter
    * filters reach the scans, and the LIMIT tiebreak (revenue DESC,
    * custkey ASC) is explicit so both engines select the same rows. */
  def q10Returns(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp")
        && col("o_orderdate") < lit("1996-04-01 00:00:00").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val l = Tables.load(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val c = Tables.load(s, dir, "customer")
      .select("c_custkey", "c_name", "c_nationkey")
    val n = Tables.load(s, dir, "nation").select("n_nationkey", "n_name")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(round(sum(col("l_extendedprice").cast(DecimalType(18, 4))
        * (lit(1) - col("l_discount")).cast(DecimalType(8, 4))), 2)
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
  }

  /** Point-in-time join against the SCD2 dimension: each fact is
    * matched to the dimension VERSION whose validity range contains
    * the fact's query date ("price as of a week after ship") — the
    * warehouse pattern SCD2 exists to serve, distinct from as-of
    * (range containment on disjoint versions, not nearest-neighbor).
    * Plan shape: equi-join on the surrogate natural key + range
    * predicate — join multiplicity before the filter is bounded by
    * versions-per-key (days with activity), so there is no blowup at
    * any scale; the aggregate then pins that every fact matched
    * exactly its one covering version. */
  def joinScd2Pit(s: SparkSession, dir: String): DataFrame = {
    val dim = etlScd2(s, dir)
      .select(col("l_partkey").as("d_partkey"), col("valid_from"),
        col("valid_to"), col("price"))
    val facts = Tables.load(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_returnflag"),
        date_add(col("l_shipdate").cast("date"), 7).as("qd"))
    facts.join(dim,
        col("l_partkey") === col("d_partkey")
          && col("qd") >= col("valid_from") && col("qd") <= col("valid_to"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("price").cast(DecimalType(18, 2))).cast("double")
          .as("sum_version_price"))
  }

  /** Rule-based data-quality checks: each rule is a FILTERed count over
    * its table; violations==0 rows are kept so the report shape is the
    * rule catalog, not the violation set. One pass per table (the
    * FILTER aggregates share a scan), tiny output. */
  def etlDqRules(s: SparkSession, dir: String): DataFrame = {
    Tables.sql(s, dir,
      """SELECT rule_id, violations FROM (
        |  SELECT
        |    CAST(COUNT(*) FILTER (WHERE l_quantity <= 0) AS BIGINT) AS lineitem_nonpos_qty,
        |    CAST(COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.1) AS BIGINT) AS lineitem_discount_range,
        |    CAST(COUNT(*) FILTER (WHERE l_tax < 0 OR l_tax > 0.08) AS BIGINT) AS lineitem_tax_range,
        |    CAST(COUNT(*) FILTER (WHERE l_partkey IS NULL) AS BIGINT) AS lineitem_null_partkey
        |  FROM lineitem
        |) STACK_SRC
        |LATERAL VIEW STACK(4,
        |  'lineitem_nonpos_qty', lineitem_nonpos_qty,
        |  'lineitem_discount_range', lineitem_discount_range,
        |  'lineitem_tax_range', lineitem_tax_range,
        |  'lineitem_null_partkey', lineitem_null_partkey) AS rule_id, violations
        |UNION ALL
        |SELECT rule_id, violations FROM (
        |  SELECT
        |    CAST(COUNT(*) FILTER (WHERE o_totalprice <= 0) AS BIGINT) AS orders_nonpos_total,
        |    CAST(COUNT(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT) AS orders_null_custkey
        |  FROM orders
        |) STACK_SRC2
        |LATERAL VIEW STACK(2,
        |  'orders_nonpos_total', orders_nonpos_total,
        |  'orders_null_custkey', orders_null_custkey) AS rule_id, violations
        |""".stripMargin)
  }

  /** JSON-lines sink + source round-trip (reference sink family K1,
    * `main.py:122-133`, generalized to JSONL): events → distributed
    * JSONL write → schema-explicit read-back → per-type aggregate. The
    * oracle aggregates the parquet directly, so a row lost, duplicated,
    * or type-mangled by either side of the round-trip fails the hash.
    * Timestamps travel as integer microseconds (JSON has no timestamp
    * type); doubles round-trip exactly through Jackson. */
  def scanJsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val path = graft.core.ScratchDirs.path(s, "graft_jsonl_roundtrip", dir)
    Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_type"), col("value"))
      .write.mode("overwrite").json(path)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("us", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    s.read.schema(schema).json(path)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        min("us").as("first_us"), max("us").as("last_us"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double")
          .as("sum_value"))
  }

  /** CSV sink + source round-trip (reference sink K1 / source K2,
    * `main.py:122-133` / `dump_bigq.py:91`): same shape as the JSONL
    * round-trip — write distributed CSV with a header, read back with
    * an explicit schema, aggregate; the oracle aggregates the parquet
    * directly, so round-trip corruption fails the hash. */
  def scanCsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val path = graft.core.ScratchDirs.path(s, "graft_csv_roundtrip", dir)
    Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_type"), col("value"))
      .write.mode("overwrite").option("header", "true").csv(path)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("us", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    s.read.schema(schema).option("header", "true").csv(path)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        min("us").as("first_us"), max("us").as("last_us"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double")
          .as("sum_value"))
  }

  /** Partitioned-parquet sink + partition-pruned read-back: orders are
    * written partitioned by priority, then read with a partition
    * predicate — the layout that turns a filter into "skip whole
    * directories" at 100 TB (PlanShapeSpec pins the PartitionFilters
    * plan shape). The oracle filters the flat parquet, so a row landing
    * in the wrong partition fails the hash. */
  def scanPartitionedRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val path = graft.core.ScratchDirs.path(s, "graft_part_roundtrip", dir)
    Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      .write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
    s.read.parquet(path)
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double")
          .as("tot"))
  }

  // ---------------------------------------------------------------- maps

  val queries: Seq[QueryDef] = Seq(
    QueryDef("scan_partitioned_roundtrip", scanPartitionedRoundtrip,
      """SELECT o_orderpriority, COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS tot
        |FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |GROUP BY o_orderpriority""".stripMargin),
    QueryDef("scan_csv_roundtrip", scanCsvRoundtrip,
      """SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
        |       MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS first_us,
        |       MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin),
    QueryDef("scan_jsonl_roundtrip", scanJsonlRoundtrip,
      """SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
        |       MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS first_us,
        |       MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin),
    QueryDef("events_sessionize", eventsSessionize,
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, value, event_id FROM events),
        |f AS (SELECT *, CASE WHEN us - LAG(us) OVER w > 1800000000 OR LAG(us) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sess
        |      FROM f)
        |SELECT user_id, CAST(sess AS BIGINT) AS session_seq, COUNT(*) AS n_events,
        |       MIN(us) AS start_us, MAX(us) AS end_us, MAX(us)-MIN(us) AS dur_us,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, sess""".stripMargin),
    QueryDef("events_attribution", eventsAttribution,
      """WITH e AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type FROM events),
        |lt AS (SELECT *,
        |         LAST_VALUE(CASE WHEN event_type IN ('click','view') THEN us END IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY us, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        |       FROM e)
        |SELECT event_id, user_id, us AS purchase_us,
        |       COALESCE(touch, -1) AS touch_us,
        |       CASE WHEN touch IS NULL THEN -1 ELSE us - touch END AS latency_us
        |FROM lt WHERE event_type = 'purchase'""".stripMargin),
    QueryDef("llm_chunk", llmChunk,
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |st AS (SELECT doc_id, toks, unnest(generate_series(0, greatest(len(toks)-1, 0), 32)) AS start FROM tok)
        |SELECT doc_id, CAST(start // 32 AS BIGINT) AS chunk_id,
        |       array_to_string(list_slice(toks, start+1, start+48), ' ') AS chunk_text,
        |       CAST(least(48, len(toks)-start) AS BIGINT) AS chunk_len
        |FROM st""".stripMargin),
    QueryDef("text_collocations", textCollocations,
      """WITH tok AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |pos AS (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks,1) AS p FROM tok),
        |bi AS (SELECT a.tok AS w1, b.tok AS w2 FROM pos a JOIN pos b ON a.doc_id=b.doc_id AND b.p=a.p+1),
        |cnt AS (SELECT w1, w2, COUNT(*) AS n FROM bi GROUP BY 1,2),
        |uni AS (SELECT tok, COUNT(*) AS nu FROM pos GROUP BY 1),
        |tot AS (SELECT SUM(n) AS nb FROM cnt), tu AS (SELECT SUM(nu) AS nt FROM uni)
        |SELECT w1, w2, n, LN((n / nb) / ((u1.nu / nt) * (u2.nu / nt))) AS pmi
        |FROM cnt, tot, tu
        |JOIN uni u1 ON u1.tok = cnt.w1
        |JOIN uni u2 ON u2.tok = cnt.w2
        |ORDER BY n DESC, w1, w2 LIMIT 20""".stripMargin),
    QueryDef("agg_zscore", aggZscore,
      """WITH m AS (SELECT l_suppkey, COUNT(l_extendedprice) AS n,
        |             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sx,
        |             -- DECIMAL(19,4): >18 digits forces DuckDB's int128
        |             -- storage so the product can't overflow int64; the
        |             -- value is exact either way, matching Spark's (18,4)²
        |             CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(19,4))
        |                            * CAST(l_extendedprice AS DECIMAL(19,4))), 2) AS DOUBLE) AS sxx
        |           FROM lineitem GROUP BY 1),
        |st AS (SELECT l_suppkey, sx / n AS mu,
        |         SQRT((n*sxx - sx*sx) / (n*(n-1.0))) AS sd
        |       FROM m)
        |SELECT l.l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
        |       (l_extendedprice - mu) / sd AS z
        |FROM lineitem l JOIN st ON l.l_suppkey = st.l_suppkey
        |WHERE ABS((l_extendedprice - mu) / sd) > 1.5""".stripMargin),
    QueryDef("etl_scd2", etlScd2,
      """WITH daily AS (SELECT l_partkey, CAST(l_shipdate AS DATE) AS d,
        |                      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price
        |               FROM lineitem GROUP BY 1, 2)
        |SELECT l_partkey, d AS valid_from,
        |       CAST(COALESCE(LEAD(d) OVER w - INTERVAL 1 DAY, DATE '9999-12-31') AS DATE) AS valid_to,
        |       price,
        |       CAST(CASE WHEN LEAD(d) OVER w IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
        |FROM daily WINDOW w AS (PARTITION BY l_partkey ORDER BY d)""".stripMargin),
    QueryDef("join_scd2_pit", joinScd2Pit,
      """WITH daily AS (SELECT l_partkey, CAST(l_shipdate AS DATE) AS d,
        |                      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price
        |               FROM lineitem GROUP BY 1, 2),
        |dim AS (SELECT l_partkey AS d_partkey, d AS valid_from,
        |               CAST(COALESCE(LEAD(d) OVER w - INTERVAL 1 DAY,
        |                             DATE '9999-12-31') AS DATE) AS valid_to,
        |               price
        |        FROM daily WINDOW w AS (PARTITION BY l_partkey ORDER BY d)),
        |f AS (SELECT l_partkey, l_returnflag,
        |             CAST(l_shipdate AS DATE) + 7 AS qd FROM lineitem)
        |SELECT l_returnflag, COUNT(*) AS n,
        |       CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)
        |         AS sum_version_price
        |FROM f JOIN dim ON f.l_partkey = dim.d_partkey
        |  AND f.qd >= dim.valid_from AND f.qd <= dim.valid_to
        |GROUP BY l_returnflag""".stripMargin),
    QueryDef("q3_shipping", q3Shipping,
      """SELECT l_orderkey,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
        |                 * CAST(1 - l_discount AS DECIMAL(8,4))), 2) AS DOUBLE)
        |    AS revenue,
        |  strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m-%d') AS o_orderdate
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),
    QueryDef("q5_local_supplier", q5LocalSupplier,
      """SELECT n_name, COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
        |                 * CAST(1 - l_discount AS DECIMAL(8,4))), 2) AS DOUBLE)
        |    AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name""".stripMargin),
    QueryDef("q10_returns", q10Returns,
      """SELECT c_custkey, c_name, n_name,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
        |                 * CAST(1 - l_discount AS DECIMAL(8,4))), 2) AS DOUBLE)
        |    AS revenue
        |FROM customer, orders, lineitem, nation
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),
    QueryDef("etl_dq_rules", etlDqRules,
      """SELECT 'lineitem_nonpos_qty' AS rule_id, CAST(COUNT(*) FILTER (WHERE l_quantity <= 0) AS BIGINT) AS violations FROM lineitem
        |UNION ALL SELECT 'lineitem_discount_range', CAST(COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.1) AS BIGINT) FROM lineitem
        |UNION ALL SELECT 'lineitem_tax_range', CAST(COUNT(*) FILTER (WHERE l_tax < 0 OR l_tax > 0.08) AS BIGINT) FROM lineitem
        |UNION ALL SELECT 'lineitem_null_partkey', CAST(COUNT(*) FILTER (WHERE l_partkey IS NULL) AS BIGINT) FROM lineitem
        |UNION ALL SELECT 'orders_nonpos_total', CAST(COUNT(*) FILTER (WHERE o_totalprice <= 0) AS BIGINT) FROM orders
        |UNION ALL SELECT 'orders_null_custkey', CAST(COUNT(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT) FROM orders""".stripMargin))
}
