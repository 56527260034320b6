package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.QueryDef
import graft.core.{ScratchDirs, SessionScoped, Tables}
import graft.core.CkptTap._

/** Scale-layout operators: bucketed co-located joins, banded range
  * joins, columnar-format round-trips, and embedding quantization —
  * the physical-layout tools that decide whether a 100 TB job shuffles
  * the world or nothing at all.
  *
  *  - `join_bucketed`: both join sides persisted bucketed+sorted on the
  *    join key, so the join needs NO exchange — at 100 TB this is the
  *    difference between a petabyte shuffle and a local merge per
  *    bucket (BucketedJoinSpec pins the zero-Exchange plan).
  *  - `join_band`: |t_a - t_b| <= d with no equi key, made hash-joinable
  *    by quantizing time into d-width buckets and exploding one side to
  *    its 3 candidate buckets (same family as
  *    graft.operators.IntervalJoin — reference has no banded joins; its
  *    per-symbol append loop is stock_data_scraper.py:310-333).
  *  - `scan_orc_roundtrip`: ORC sink + source (SURVEY §2B scans/sinks).
  *  - `llm_quantize_int8`: per-vector symmetric int8 quantization of
  *    the embedding column — 4x memory cut for ANN shortlists; the
  *    engine-neutral outputs (exact quantized-integer sums + a
  *    reconstruction-error bound) are the SemDeDup/IVF storage story.
  */
object ScaleOps {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private def d18(c: Column): Column = c.cast(DecimalType(18, 4))
  private def d8(c: Column): Column = c.cast(DecimalType(8, 4))
  private def dsum2(c: Column): Column = round(sum(c), 2).cast(DoubleType)

  /** Bucket count for persisted co-located layouts. At 100 TB this
    * would be sized so each bucket is a few hundred MB (e.g. 4096);
    * the zero-exchange plan shape is identical. */
  private val buckets = 8

  /** Write orders+lineitem bucketed AND sorted by order key, then join
    * the bucketed tables. With matching bucket counts Spark plans a
    * sort-merge join with no Exchange on either side: the shuffle is
    * paid once at layout time, then amortized over every future join.
    * repartition(buckets, key) before the write aligns the task
    * partitioning with the bucket hash (both are Murmur3 pmod n), so
    * each task holds exactly one bucket and writes exactly one file —
    * the same one-file-per-bucket layout a coalesce(1) would give,
    * but written by `buckets` tasks in parallel instead of one task
    * funneling the whole table (the 100 TB difference between a
    * layout job and a stalled pipeline). */
  def joinBucketed(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders")
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
      .repartition(buckets, col("o_orderkey"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "o_orderkey").sortBy("o_orderkey")
      .option("path", ScratchDirs.path(s, "graft_bkt_orders", dir))
      .saveAsTable("graft_bkt_orders")
    t(s, dir, "lineitem")
      .select("l_orderkey", "l_extendedprice", "l_discount", "l_quantity")
      .repartition(buckets, col("l_orderkey"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "l_orderkey").sortBy("l_orderkey")
      .option("path", ScratchDirs.path(s, "graft_bkt_lineitem", dir))
      .saveAsTable("graft_bkt_lineitem")
    val o = s.table("graft_bkt_orders")
    val l = s.table("graft_bkt_lineitem")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        dsum2(d18(col("l_extendedprice")) * d8(lit(1) - col("l_discount")))
          .as("revenue"),
        dsum2(d18(col("l_quantity"))).as("sum_qty"))
  }

  /** Band width for the keyless time join, in microseconds (±5 min). */
  private val bandUs = 300000000L

  /** Keyless band join: for every anomalous event (value > 320), count
    * and sum the OTHER events within ±5 minutes — with no key linking
    * the two sides. A naive formulation is a cartesian product; here
    * time is quantized into band-width buckets and the anomaly side is
    * exploded to its 3 candidate buckets, so the planner gets an
    * equality and builds a hash join. Candidate pairs are filtered by
    * the exact |Δt| predicate inside the join condition (a LEFT join,
    * so a lonely anomaly still reports n_nearby = 0). Each non-anomaly
    * event has exactly one bucket, so no pair can match twice. */
  def joinBand(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("event_id"), unix_micros(col("ts")).as("us"), col("value"))
    val ab = expr(s"us div $bandUs")
    val a = e.filter(col("value") > 320)
      .select(col("event_id").as("a_id"), col("us").as("a_us"),
        explode(array(ab - 1, ab, ab + 1)).as("bucket"))
    val b = e.select(col("event_id").as("b_id"), col("us").as("b_us"),
      col("value").as("b_value"), expr(s"us div $bandUs").as("bucket"))
    val cond = a("bucket") === b("bucket") && b("b_id") =!= a("a_id") &&
      abs(b("b_us") - a("a_us")) <= bandUs
    a.join(b, cond, "left")
      .groupBy(a("a_id").as("event_id"))
      .agg(
        count(b("b_id")).as("n_nearby"),
        sum(b("b_value").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("sum_nearby"))
  }

  /** ORC sink + source round-trip (same shape as the CSV/JSONL
    * round-trips so the three formats are directly comparable): write
    * events to ORC, read it back, aggregate. The oracle aggregates the
    * original parquet, so any loss in the round-trip fails the hash. */
  def scanOrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val path = ScratchDirs.path(s, "graft_orc_roundtrip", dir)
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_type"), col("value"))
      .write.mode("overwrite").orc(path)
    s.read.orc(path)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        min("us").as("first_us"), max("us").as("last_us"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double")
          .as("sum_value"))
  }

  /** XML sink + source round-trip (Spark 4 ships the XML datasource
    * natively): write an element per row under `rowTag`, read back
    * with schema inference, and aggregate — the "mixed legacy feed"
    * member of the format family next to CSV/JSONL/ORC/parquet.
    * Integer microseconds (not timestamps) cross the text format, so
    * the round-trip is value-exact. */
  def scanXmlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val path = ScratchDirs.path(s, "graft_xml_roundtrip", dir)
    // The events fixture is a single parquet row group, so without a
    // repartition ONE task would serialize the whole table to XML and
    // one task would parse it back — 23.5 s at sf0.1, the slowest
    // query in the suite. Text serialization is CPU-bound and fully
    // under engine control: fan out so N writers produce N files and
    // the read side gets N splits. (The binary ORC/CSV round-trips
    // stay single-file — their serializers are IO-cheap and a 1-file
    // layout is itself a coverage point.)
    val fanout = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_type"), col("value"))
      .repartition(fanout)
      .write.mode("overwrite").format("xml")
      .option("rowTag", "event").save(path)
    // Explicit read schema (the exact struct inference produced):
    // XML schema inference is a FULL extra parse pass over every file
    // before the real read — at 100 TB that is double the scan cost,
    // and a reader of a feed it just wrote knows the types anyway.
    // Types/nullability match inference bit-for-bit, so the aggregate
    // is unchanged.
    s.read.format("xml").option("rowTag", "event")
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, user_id BIGINT, us BIGINT, " +
          "event_type STRING, value DOUBLE"))
      .load(path)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        min("us").as("first_us"), max("us").as("last_us"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double")
          .as("sum_value"))
  }

  /** Per-vector symmetric int8 quantization: scale = max|x|/127,
    * q_i = clamp(floor(x_i/scale + 0.5), ±127). Engine-neutral
    * determinism: quantized values are exact small integers (summed as
    * BIGINT), floor(x + 0.5) sidesteps both engines' round() midpoint
    * rules, and the reconstruction error is the expanded
    * Σx² − 2s·Σxq + s²·Σq² with identical per-term fold order. */
  def llmQuantizeInt8(s: SparkSession, dir: String): DataFrame = {
    val emb = transform(col("embedding"), x => x.cast(DoubleType))
    val base = t(s, dir, "embeddings")
      .select(col("vec_id"), emb.as("emb"))
      .withColumn("scale",
        array_max(transform(col("emb"), x => abs(x))) / lit(127.0))
    // scale = 0 (all-zero vector) would make x/scale NaN; an all-zero
    // vector quantizes to all-zero codes by definition.
    val qv = when(col("scale") > 0,
      transform(col("emb"), x =>
        greatest(lit(-127.0), least(lit(127.0),
          floor(x / col("scale") + lit(0.5)).cast(DoubleType)))))
      .otherwise(transform(col("emb"), _ => lit(0.0)))
    val dot = (u: Column, v: Column) =>
      // native codegen dot (same fold order, bit-identical; see
      // plans.DotProductDouble)
      call_function("dot_product_d",
        u.cast("array<double>"), v.cast("array<double>"))
    base.withColumn("qv", qv)
      .select(
        col("vec_id"),
        // Raw: scale and err are bit-identical folds/quotients on both
        // engines; per-engine rounding only adds boundary risk.
        col("scale").as("scale_r"),
        aggregate(col("qv"), lit(0.0), (acc, v) => acc + v).cast("long")
          .as("q_sum"),
        aggregate(col("qv"), lit(0.0), (acc, v) => acc + abs(v)).cast("long")
          .as("q_l1"),
        (dot(col("emb"), col("emb"))
          - lit(2.0) * col("scale") * dot(col("emb"), col("qv"))
          + col("scale") * col("scale") * dot(col("qv"), col("qv")))
          .as("err"))
  }

  /** Exact heavy hitters cross-checked against the native Misra-Gries
    * sketch ([[graft.plans.MisraGries]]): keys with > 1/8 of all events.
    * The MG candidate set beyond the guarantee is merge-order dependent,
    * so the graded output emits only order-independent facts — exact
    * counts, plus `in_sketch` for keys the sketch PROVABLY retains
    * (freq > n/8 > n/(k+1) with k=8 counters); the oracle emits literal
    * TRUE. An in_sketch=false row is a real sketch bug, not noise. */
  def aggHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val tot = e.agg(count(lit(1)).as("total"))
    val cands = e.agg(expr("heavy_hitters(event_type, 8)").as("cands"))
    e.groupBy("event_type").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(tot)).crossJoin(broadcast(cands))
      .filter(col("cnt") > col("total") / lit(8.0))
      .select(col("event_type"), col("cnt"),
        array_contains(col("cands"), col("event_type")).as("in_sketch"))
  }

  /** Small-file compaction: the events table is first written as 64
    * deliberately-tiny files (the "small files problem" a long-running
    * ingest accumulates — at 100 TB, millions of KB-sized files turn
    * listing and task scheduling into the bottleneck), then compacted
    * to 4 right-sized files. The graded output proves both layout
    * (exactly 4 distinct files read back) and content (count + decimal
    * sum must match the original table). */
  def etlCompact(s: SparkSession, dir: String): DataFrame = {
    val small = ScratchDirs.path(s, "graft_compact_small", dir)
    val big = ScratchDirs.path(s, "graft_compact_big", dir)
    t(s, dir, "events")
      .select("event_id", "user_id", "event_type", "value")
      .repartition(64).write.mode("overwrite").parquet(small)
    s.read.parquet(small)
      .repartition(4).write.mode("overwrite").parquet(big)
    // Layout check via a metadata-only listing (input_file_name() is
    // marked nondeterministic and would trip the global plan audit);
    // content check via the query itself.
    // Resolve the FS from the path itself, not the default filesystem —
    // they differ the moment defaultFS isn't the local scheme.
    val bigPath = new org.apache.hadoop.fs.Path(big)
    val fs = bigPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val nFiles = fs.listStatus(bigPath)
      .count(_.getPath.getName.endsWith(".parquet"))
    s.read.parquet(big)
      .agg(
        lit(nFiles).cast("long").as("n_files"),
        count(lit(1)).as("n_rows"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("sum_value"))
  }

  /** 16-bit Morton spread: insert a zero bit between consecutive bits
    * of the low 16 bits (x | x<<8 & mask … the classic magic-number
    * cascade), entirely in codegen'd bit expressions. */
  private def spread16(c: Column): Column = {
    val x0 = c.cast("long").bitwiseAND(lit(0xFFFFL))
    val x1 = x0.bitwiseOR(shiftleft(x0, 8)).bitwiseAND(lit(0x00FF00FFL))
    val x2 = x1.bitwiseOR(shiftleft(x1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val x3 = x2.bitwiseOR(shiftleft(x2, 2)).bitwiseAND(lit(0x33333333L))
    x3.bitwiseOR(shiftleft(x3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Morton (z-curve) interleave of two 16-bit values: a's bits land in
    * even positions, b's in odd. */
  def morton(a: Column, b: Column): Column =
    spread16(a).bitwiseOR(shiftleft(spread16(b), 1))

  /** Z-order layout: lineitem rewritten globally sorted by the Morton
    * code of (l_partkey, l_suppkey), then read back with a 2-D range
    * predicate. Sorting by the z-value makes parquet row-group min/max
    * stats tight on BOTH dimensions at once, so a 2-D selective read
    * skips most row groups — the multi-column clustering trick a 100 TB
    * table needs when no single sort column serves every query. The
    * oracle filters the unsorted original, so the layout rewrite must
    * be content-preserving. */
  def scanZorder(s: SparkSession, dir: String): DataFrame = {
    val path = ScratchDirs.path(s, "graft_zorder", dir)
    t(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice")
      .withColumn("z", morton(col("l_partkey"), col("l_suppkey")))
      .orderBy("z")
      .drop("z")
      .write.mode("overwrite").parquet(path)
    s.read.parquet(path)
      .filter(col("l_partkey").between(100, 300) &&
        col("l_suppkey").between(10, 40))
      .agg(
        count(lit(1)).as("n"),
        dsum2(d18(col("l_quantity"))).as("sum_qty"),
        dsum2(d18(col("l_extendedprice"))).as("sum_price"))
  }

  /** Bucket-pruned point lookup: orders persisted bucketed on the key,
    * then probed with an IN-list of 3 keys. The scan hashes each probe
    * key to its bucket and reads ONLY those files —
    * "SelectedBucketsCount: ≤3 out of 8" in the plan (spec-pinned).
    * At 100 TB with 4096 buckets that's a 1000× read reduction for
    * key lookups, with no index structure to maintain. */
  def scanBucketPruned(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders")
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
      .repartition(buckets, col("o_orderkey")) // distributed one-file-per-bucket (see joinBucketed)
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "o_orderkey").sortBy("o_orderkey")
      .option("path", ScratchDirs.path(s, "graft_bkt_probe", dir))
      .saveAsTable("graft_bkt_probe")
    s.table("graft_bkt_probe")
      .filter(col("o_orderkey").isin(1, 2, 3))
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice").cast(DecimalType(18, 2)).cast(DoubleType)
          .as("o_totalprice"))
  }

  /** The full 100 TB catalog layout on one table, end-to-end: orders
    * persisted as a catalog table PARTITIONED BY priority (directory
    * pruning axis: low-cardinality, predicate-heavy) AND BUCKETED +
    * sorted by order key (join/probe axis: high-cardinality), then
    * probed with a predicate on BOTH axes at once. The plan must show
    * partition pruning (PartitionFilters on the scan — 1 of 5
    * directories read) and bucket pruning (SelectedBucketsCount ≤3 of
    * 8) TOGETHER: at 100 TB that compounds to reading ~1/5 × ≤3/8 of
    * the table for a point-ish probe, with zero shuffle. This makes
    * Tables.scala's "at scale these would be partitioned/bucketed
    * catalog tables" note concrete beyond join_bucketed's single-axis
    * ad-hoc layout; ScaleQueriesSpec pins both prunings in one plan. */
  def scanCatalogBucketed(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders")
      .select("o_orderkey", "o_totalprice", "o_orderpriority")
      // distributed layout write: each of the `buckets` tasks holds one
      // bucket across all partition dirs -> one file per (priority,
      // bucket), no single-task funnel (see joinBucketed)
      .repartition(buckets, col("o_orderkey"))
      .write.mode("overwrite").format("parquet")
      .partitionBy("o_orderpriority")
      .bucketBy(buckets, "o_orderkey").sortBy("o_orderkey")
      .option("path", ScratchDirs.path(s, "graft_cat_orders", dir))
      .saveAsTable("graft_cat_orders")
    s.table("graft_cat_orders")
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderkey").isin(3L, 4L, 5L, 6L))
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice").cast(DecimalType(18, 2)).cast(DoubleType)
          .as("o_totalprice"))
  }

  /** Incremental rollup maintenance: the month's first half is the
    * "already materialized" aggregate, the second half the newly
    * arrived delta; each is partially aggregated separately and the
    * partials MERGE by addition (count and decimal sums are mergeable).
    * This is how a 100 TB rollup absorbs a day's data by scanning one
    * day, not the whole history — and the oracle proves merged partials
    * are indistinguishable from a full recompute. */
  def etlIncrementalRollup(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("event_type"), dayofmonth(col("ts")).as("d"),
        col("value").cast(DecimalType(18, 2)).as("v"))
    def part(df: DataFrame): DataFrame =
      df.groupBy("event_type")
        .agg(count(lit(1)).as("pn"), sum(col("v")).as("psum"))
    part(e.filter(col("d") <= 14))
      .unionByName(part(e.filter(col("d") >= 15)))
      .groupBy("event_type")
      .agg(sum(col("pn")).as("n"),
        sum(col("psum")).cast(DoubleType).as("sum_value"))
  }

  /** Dynamic partition pruning: the fact side is laid out partitioned
    * by return-flag; the dim side is a tiny flag table filtered at
    * runtime. Spark plants a `dynamicpruning` subquery on the fact
    * scan's PartitionFilters, so only the partitions matching the
    * filtered dim are read — the static-pruning complement for filters
    * that only exist on the OTHER side of a join. At 100 TB with
    * date-partitioned facts and a filtered date dim, this is the
    * difference between scanning 3 days and scanning 10 years.
    * (ScaleQueriesSpec pins the dynamicpruning plan shape.) */
  def joinDpp(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = ScratchDirs.path(s, "graft_dpp_lineitem", dir)
    t(s, dir, "lineitem")
      .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(path)
    // The dim must be file-backed with a positively-selective filter:
    // an in-memory dim's Filter is constant-folded into the
    // LocalRelation before the PartitionPruning rule looks for it, and
    // Not(=) predicates don't count as selective.
    val dimPath = ScratchDirs.path(s, "graft_dpp_dim", dir)
    Seq(("A", "returned"), ("N", "kept"), ("R", "refunded"))
      .toDF("flag", "label")
      .write.mode("overwrite").parquet(dimPath)
    val dim = s.read.parquet(dimPath)
      .filter(col("label").isin("returned", "refunded"))
    s.read.parquet(path)
      .join(dim, col("l_returnflag") === col("flag"))
      .groupBy("l_returnflag", "label")
      .agg(count(lit(1)).as("n"),
        dsum2(d18(col("l_quantity"))).as("sum_qty"),
        dsum2(d18(col("l_extendedprice"))).as("sum_price"))
  }

  /** Order-insensitive table fingerprint: every row renders to a
    * canonical string (decimals/dates pinned to fixed text forms),
    * hashes to a 48-bit md5 prefix, and the prefixes SUM — a
    * commutative fold, so the checksum is independent of partitioning,
    * task order, and row order. Two 100 TB replicas compare with one
    * number each instead of a row-level diff; any engine (here: DuckDB)
    * can recompute it from the same canonical form. The 48-bit terms
    * accumulate in DECIMAL(38,0) — a long total would overflow (and
    * Spark's non-ANSI long sum wraps SILENTLY) after ~2^15 rows of
    * 2^47-average terms; decimal headroom is ~10^24 rows. */
  def etlTableChecksum(s: SparkSession, dir: String): DataFrame = {
    val rowStr = concat_ws("|",
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice").cast(DecimalType(18, 2)).cast("string"),
      date_format(col("o_orderdate"), "yyyy-MM-dd"), col("o_orderpriority"))
    t(s, dir, "orders")
      .select(conv(substring(md5(rowStr), 1, 12), 16, 10).cast("long").as("h"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("h").cast(DecimalType(38, 0))).cast(DecimalType(38, 0))
          .cast("string").as("checksum"))
  }

  /** Materialization reuse: an expensive filtered projection is
    * persisted once and feeds TWO aggregation branches — per-flag
    * stats joined against cached global totals. Without the persist,
    * each branch would rescan (and refilter) the full table; with it,
    * the second branch reads columnar in-memory batches
    * (InMemoryTableScan, spec-pinned). The 100 TB form of "reuse a
    * partitioning/materialization across stages" — pay the scan once,
    * amortize across every consumer. */
  // One persisted base per (session, dir): a fresh persist() per
  // invocation would accumulate cached blocks across a 170+-query
  // verify/bench session with nothing ever releasing them. Dropped with
  // the session's context, so a new app never reuses a stopped one's.
  private val cachedReuseBase = new SessionScoped(
    () => new java.util.concurrent.ConcurrentHashMap[String, DataFrame])

  /** Unpersist and forget this session's cached reuse bases — end-of-run
    * hook for long sessions (see [[graft.core.CacheRelease]]). The
    * base keeps full lineage, so a later call just re-persists. */
  def releaseCache(s: SparkSession): Unit =
    cachedReuseBase.remove(s)
      .foreach(_.values.forEach(_.unpersist(blocking = true)))

  def scanCachedReuse(s: SparkSession, dir: String): DataFrame = {
    val base = cachedReuseBase(s).computeIfAbsent(dir,
      _ => t(s, dir, "lineitem")
        .filter(col("l_quantity") > 10)
        .select("l_returnflag", "l_quantity", "l_extendedprice")
        .persist())
    val perFlag = base.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        dsum2(d18(col("l_extendedprice"))).as("sum_price"))
    val totals = base.agg(count(lit(1)).as("n_total"),
      dsum2(d18(col("l_quantity"))).as("qty_total"))
    perFlag.crossJoin(broadcast(totals))
      .select(col("l_returnflag"), col("n"), col("sum_price"),
        col("n_total"), col("qty_total"))
  }

  /** Join-strategy control: SHUFFLE_HASH hint forces a shuffled hash
    * join (spec-pinned) where Spark would default to sort-merge once
    * both sides exceed the broadcast threshold. At 100 TB this is the
    * right call when one side is much smaller than the other but still
    * too big to broadcast: hash-building the small side skips BOTH
    * sort passes, at the price of holding one partition's build side
    * in memory — a deliberate, auditable trade. */
  def joinShuffleHash(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val o = t(s, dir, "orders").hint("shuffle_hash")
      .select("o_orderkey", "o_orderpriority")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        dsum2(d18(col("l_extendedprice")) * d8(lit(1) - col("l_discount")))
          .as("revenue"))
  }

  /** Scoped conf override: set, run, restore — the bloom thresholds are
    * sized for 100 TB scans (applicationSideScanSizeThreshold defaults
    * to 10 GB), so the fixture-scale query lowers them for the duration
    * of ITS planning/execution only. */
  private def withConfs[T](s: SparkSession, kvs: (String, String)*)(f: => T): T = {
    val prev = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** Runtime bloom-filter pruned join: a selective dimension filter is
    * turned into a bloom filter BUILT AT RUNTIME from the dim side and
    * pushed into the fact scan as `might_contain(...)` — rows that
    * cannot join are dropped before the shuffle. At 100 TB this is the
    * semi-join-heavy workload's workhorse: the exchange moves only the
    * ~1-priority slice of lineitem instead of all of it. Injection
    * requires a PROBABLE SHUFFLE join — a broadcast join already
    * filters on the probe side, so the rule skips any join with a
    * broadcast-able build side. At 100 TB both sides exceed the
    * threshold naturally; at fixture scale the scoped
    * autoBroadcastJoinThreshold=-1 recreates that condition.
    * Fail-loud: the query itself asserts the injected filter is IN the
    * executed plan, then materializes under the same active confs, so
    * a silent no-injection regression cannot grade green. */
  def joinBloom(s: SparkSession, dir: String): DataFrame =
    withConfs(s,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val l = t(s, dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount", "l_returnflag")
      val o = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val df = l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          dsum2(d18(col("l_extendedprice")) * d8(lit(1) - col("l_discount")))
            .as("revenue"))
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("might_contain"),
        s"runtime bloom filter not injected:\n$plan")
      df.tappedLocalCheckpoint()
    }

  /** Schema evolution on read: two generations of the same feed land
    * with drifted schemas (the early half carries `value`, the late
    * half `event_type` — the same drift family the reference's column
    * canonicalization handles at extract time), written as sibling
    * partitions and unified by a mergeSchema read: missing columns
    * surface as nulls, not errors. The aggregate proves both column
    * sets survive — at 100 TB you migrate schemas by writing the new
    * shape next to the old, never by rewriting history. */
  def etlSchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val root = ScratchDirs.path(s, "graft_schema_evo", dir)
    val e = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), dayofmonth(col("ts")).as("d"))
    e.filter(col("d") <= 15).select("event_id", "user_id", "value")
      .write.mode("overwrite").parquet(s"$root/gen=1")
    e.filter(col("d") > 15).select("event_id", "user_id", "event_type")
      .write.mode("overwrite").parquet(s"$root/gen=2")
    s.read.option("mergeSchema", "true").parquet(root)
      .groupBy("gen")
      .agg(count(lit(1)).as("n"),
        count(col("value")).as("n_value"),
        count(col("event_type")).as("n_type"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("sum_value"))
  }

  // ---------------------------------------------------------------- maps

  val queries: Seq[QueryDef] = Seq(
    QueryDef("join_bucketed", joinBucketed,
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(8,4))), 2) AS DOUBLE) AS revenue,
        |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin),
    QueryDef("join_band", joinBand,
      """WITH e AS (SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, value FROM events),
        |a AS (SELECT * FROM e WHERE value > 320)
        |SELECT a.event_id, COUNT(b.event_id) AS n_nearby,
        |  CAST(SUM(CAST(b.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_nearby
        |FROM a LEFT JOIN e b
        |  ON b.event_id <> a.event_id AND abs(b.us - a.us) <= 300000000
        |GROUP BY a.event_id""".stripMargin),
    QueryDef("scan_orc_roundtrip", scanOrcRoundtrip,
      """SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
        |       MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS first_us,
        |       MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin),
    QueryDef("scan_xml_roundtrip", scanXmlRoundtrip,
      """SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
        |       MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS first_us,
        |       MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin),
    QueryDef("llm_quantize_int8", llmQuantizeInt8,
      """WITH b AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
        |s AS (SELECT vec_id, emb, list_max(list_transform(emb, x -> abs(x)))/127.0 AS scale FROM b),
        |q AS (SELECT vec_id, scale, emb,
        |        CASE WHEN scale > 0
        |             THEN list_transform(emb, x -> GREATEST(-127.0, LEAST(127.0, FLOOR(x/scale + 0.5))))
        |             ELSE list_transform(emb, x -> 0.0) END AS qv
        |      FROM s)
        |SELECT vec_id, scale AS scale_r,
        |  CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |  CAST(list_sum(list_transform(qv, v -> abs(v))) AS BIGINT) AS q_l1,
        |  list_sum(list_transform(emb, x -> x*x))
        |    - 2*scale*list_sum(list_transform(list_zip(emb, qv), p -> p[1]*p[2]))
        |    + scale*scale*list_sum(list_transform(qv, v -> v*v)) AS err
        |FROM q""".stripMargin),
    QueryDef("agg_heavy_hitters", aggHeavyHitters,
      """WITH tot AS (SELECT COUNT(*) AS total FROM events),
        |c AS (SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY 1)
        |SELECT event_type, cnt, TRUE AS in_sketch
        |FROM c, tot WHERE cnt > total/8.0""".stripMargin),
    QueryDef("etl_compact", etlCompact,
      """SELECT CAST(4 AS BIGINT) AS n_files, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events""".stripMargin),
    QueryDef("scan_zorder", scanZorder,
      """SELECT COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_price
        |FROM lineitem
        |WHERE l_partkey BETWEEN 100 AND 300 AND l_suppkey BETWEEN 10 AND 40""".stripMargin),
    QueryDef("scan_bucket_pruned", scanBucketPruned,
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
        |FROM orders WHERE o_orderkey IN (1, 2, 3)""".stripMargin),
    QueryDef("scan_catalog_bucketed", scanCatalogBucketed,
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
        |FROM orders
        |WHERE o_orderpriority = '1-URGENT'
        |  AND o_orderkey IN (3, 4, 5, 6)""".stripMargin),
    QueryDef("etl_incremental_rollup", etlIncrementalRollup,
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin),
    QueryDef("join_dpp", joinDpp,
      """WITH dim(flag, label) AS (VALUES ('A', 'returned'), ('R', 'refunded'))
        |SELECT l_returnflag, label, COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN dim ON l_returnflag = flag
        |GROUP BY l_returnflag, label""".stripMargin),
    QueryDef("etl_table_checksum", etlTableChecksum,
      """SELECT COUNT(*) AS n_rows,
        |  CAST(CAST(SUM(CAST(CAST('0x' || substr(md5(
        |    o_orderkey || '|' || o_custkey || '|' || o_orderstatus || '|' ||
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) || '|' ||
        |    strftime(o_orderdate, '%Y-%m-%d') || '|' || o_orderpriority
        |  ), 1, 12) AS BIGINT) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR) AS checksum
        |FROM orders""".stripMargin),
    QueryDef("scan_cached_reuse", scanCachedReuse,
      """WITH f AS (SELECT l_returnflag, l_quantity, l_extendedprice
        |           FROM lineitem WHERE l_quantity > 10),
        |tot AS (SELECT COUNT(*) AS n_total,
        |          CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS qty_total
        |        FROM f)
        |SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_price,
        |  n_total, qty_total
        |FROM f CROSS JOIN tot
        |GROUP BY l_returnflag, n_total, qty_total""".stripMargin),
    QueryDef("join_shuffle_hash", joinShuffleHash,
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(8,4))), 2) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin),
    QueryDef("join_bloom", joinBloom,
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(8,4))), 2) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY l_returnflag""".stripMargin),
    QueryDef("etl_schema_evolution", etlSchemaEvolution,
      """WITH e AS (SELECT event_id, user_id, event_type, value,
        |             CASE WHEN dayofmonth(CAST(ts AS TIMESTAMP)) <= 15
        |                  THEN 1 ELSE 2 END AS gen
        |           FROM events)
        |SELECT CAST(gen AS INT) AS gen, COUNT(*) AS n,
        |  COUNT(CASE WHEN gen = 1 THEN value END) AS n_value,
        |  COUNT(CASE WHEN gen = 2 THEN event_type END) AS n_type,
        |  CAST(SUM(CASE WHEN gen = 1
        |       THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_value
        |FROM e GROUP BY gen""".stripMargin))
}
