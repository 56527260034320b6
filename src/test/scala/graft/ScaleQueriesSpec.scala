package graft

import org.apache.spark.sql.functions._

/** Plan + semantics pins for the graded scale-layout queries
  * (graft.queries.ScaleOps). */
class ScaleQueriesSpec extends SparkTestBase {

  test("join_bucketed plans with no shuffle exchange below the join") {
    val df = graft.queries.ScaleOps.joinBucketed(spark, sf)
    // The final small-cardinality aggregation exchange is expected; the
    // scale claim is about the JOIN subtree: both sides must flow from
    // bucketed scans into the join without a shuffle.
    // (AQE wraps the plan pre-execution, so inspect the printed tree:
    // everything from the join line down is the join's subtree.)
    val plan0 = df.queryExecution.executedPlan.toString
    val atJoin = plan0.substring(plan0.indexOf("Join"))
    assert(plan0.contains("Join"), plan0)
    assert(!atJoin.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles the join sides:\n$atJoin")
    assert(df.count() > 0)

    // With broadcast off the same bucketed tables must sort-merge join
    // with ZERO exchanges anywhere — the pure co-located layout.
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val o = spark.table("graft_bkt_orders")
      val l = spark.table("graft_bkt_lineitem")
      val j = l.join(o, l("l_orderkey") === o("o_orderkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"),
        s"co-located SMJ should have no exchange at all:\n$plan")
      assert(j.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("join_bloom injects might_contain and matches the plain join") {
    // joinBloom fail-louds internally if the executed plan lacks the
    // injected bloom filter; this pins the behavior AND the values.
    val df = graft.queries.ScaleOps.joinBloom(spark, sf)
    val l = graft.core.Tables.load(spark, sf, "lineitem")
    val o = graft.core.Tables.load(spark, sf, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
    val plain = l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    val got = df.select("l_returnflag", "n").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exp = plain.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == exp)
    // the scoped override must not leak into the session
    assert(spark.conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      != "0")
  }

  test("AQE splits a skewed sort-merge join partition (skew=true)") {
    import graft.core.Tables
    // 90% of fact rows pile onto key 0 — the hot-partition shape that
    // salting (join_salted) handles manually; this pins that Spark's
    // OptimizeSkewedJoin handles it adaptively when thresholds allow.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      // thresholds sized for the COMPRESSED shuffle bytes of the hot
      // partition (a constant key column compresses to almost nothing;
      // the price column below keeps the partition incompressible)
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // repartition(8) first: a compact single-file scan is ONE map
      // task, and AQE splits a skewed reduce partition by MAP-output
      // ranges — with a single mapper there is nothing to split along.
      val fact = Tables.load(spark, "/root/testdata/sf0.01", "lineitem")
        .repartition(8)
        .select(when(col("l_orderkey") % 100 < 90, 0L)
          .otherwise(col("l_orderkey") % 100).as("k"),
          col("l_extendedprice"))
      val dim = spark.range(100).select(col("id").as("k"),
        (col("id") * 7).as("attr"))
      val j = fact.join(dim, "k")
        .agg(count(lit(1)).as("n"), sum(col("attr")).as("s"),
          round(sum(col("l_extendedprice")), 2).as("p"))
      val rows = j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not split the skewed partition:\n$plan")
      assert(rows.head.getAs[Long]("n") ==
        Tables.load(spark, "/root/testdata/sf0.01", "lineitem").count())
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("join_band plans a hash join, never a nested-loop/cartesian") {
    val df = graft.queries.ScaleOps.joinBand(spark, "/root/testdata/sf0.01")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"band join fell back to an all-pairs plan:\n$plan")
  }

  test("join_band matches the naive theta join exactly") {
    val dir = "/root/testdata/sf0.01"
    val e = graft.core.Tables.load(spark, dir, "events")
      .select(col("event_id"), unix_micros(col("ts")).as("us"), col("value"))
    val a = e.filter(col("value") > 320)
      .select(col("event_id").as("a_id"), col("us").as("a_us"))
    val b = e.select(col("event_id").as("b_id"), col("us").as("b_us"),
      col("value").as("b_value"))
    val naive = a.join(b,
        b("b_id") =!= a("a_id") &&
          abs(b("b_us") - a("a_us")) <= 300000000L, "left")
      .groupBy(col("a_id").as("event_id"))
      .agg(count(col("b_id")).as("n_nearby"),
        round(sum(col("b_value")), 2).as("sum_nearby"))
      .collect().map(_.mkString("|")).sorted
    val banded = graft.queries.ScaleOps.joinBand(spark, dir)
      .select(col("event_id"), col("n_nearby"),
        round(col("sum_nearby"), 2).as("sum_nearby"))
      .collect().map(_.mkString("|")).sorted
    assert(banded.sameElements(naive) && banded.nonEmpty)
  }

  test("llm_quantize_int8 stays in int8 range and reconstructs tightly") {
    val df = graft.queries.ScaleOps.llmQuantizeInt8(spark, sf)
    val rows = df.agg(
      max(greatest(abs(col("q_sum")), col("q_l1"))).as("max_mag"),
      max(col("err")).as("max_err"), count(lit(1)).as("n")).head()
    // 64 dims × 127 bounds the L1; per-element error is ≤ (scale/2)^2
    assert(rows.getLong(0) <= 64L * 127)
    assert(rows.getDouble(1) < 1e-3, s"reconstruction error too large: $rows")
    assert(rows.getLong(2) > 0)
    val offRange = graft.queries.ScaleOps.llmQuantizeInt8(spark, sf)
      .filter(col("q_l1") > 64L * 127 || col("q_l1") < 0).count()
    assert(offRange == 0)
  }

  test("scan_bucket_pruned reads only the probed buckets") {
    val df = graft.queries.ScaleOps.scanBucketPruned(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined, s"no bucket pruning in plan:\n$plan")
    assert(m.get.group(1).toInt <= 3 && m.get.group(2).toInt == 8,
      s"expected <=3 of 8 buckets, got ${m.get.group(0)}")
    assert(df.count() == 3)
  }

  test("scan_catalog_bucketed prunes partitions AND buckets in one scan") {
    val df = graft.queries.ScaleOps.scanCatalogBucketed(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // directory-pruning axis: the priority predicate must land in
    // PartitionFilters (not a post-scan Filter), so only the 1-URGENT
    // directory of the 5 is listed
    val pf = "PartitionFilters: \\[[^\\]]*1-URGENT[^\\]]*\\]".r
      .findFirstIn(plan)
    assert(pf.isDefined, s"priority not a partition filter:\n$plan")
    // bucket-pruning axis: 4 probed keys can touch at most 4 of the 8
    // buckets, and pruning must actually engage
    val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined, s"no bucket pruning in plan:\n$plan")
    assert(m.get.group(1).toInt <= 4 && m.get.group(2).toInt == 8,
      s"expected <=4 of 8 buckets, got ${m.get.group(0)}")
    // non-empty at the fixture scale (keys 3..6 include an urgent
    // order at sf0.001/0.01/0.1 by construction of the probe set)
    assert(df.count() >= 1)
  }

  test("join_dpp plants a dynamic partition pruning subquery on the fact scan") {
    val df = graft.queries.ScaleOps.joinDpp(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"no dynamic partition pruning in plan:\n$plan")
    assert(df.count() == 2)
  }

  test("scan_cached_reuse reads the second branch from the in-memory cache") {
    val df = graft.queries.ScaleOps.scanCachedReuse(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan"),
      s"persisted base not reused from cache:\n$plan")
    assert(df.count() > 0)
  }

  test("join_shuffle_hash honors the hint with a ShuffledHashJoin") {
    val df = graft.queries.ScaleOps.joinShuffleHash(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      s"shuffle_hash hint not honored:\n$plan")
  }

  test("join_existence plans an ExistenceJoin for IN-subquery in disjunction") {
    val df = SparkEntry.queries("join_existence")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ExistenceJoin"),
      s"IN-subquery under OR should plan an ExistenceJoin:\n$plan")
    assert(df.count() > 0)
  }

  test("scan_orc_roundtrip preserves counts through the ORC sink") {
    val df = graft.queries.ScaleOps.scanOrcRoundtrip(spark, sf)
    val total = df.agg(sum("n")).head().getLong(0)
    val expected = graft.core.Tables.load(spark, sf, "events").count()
    assert(total == expected)
  }
}
