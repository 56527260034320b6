package graft

import org.apache.spark.sql.functions._

/** Contract pins for the custom DSv2 source ([[graft.sources.TickSource]])
  * and the round-7 Advanced queries: pushdown must be VISIBLE in the
  * plan and EXACT in the results — a connector that accepts a filter
  * and under-applies it corrupts everything downstream. */
class TickSourceSpec extends SparkTestBase {

  private def ticks =
    spark.read.format("graft.sources.TickSource")
      .option("rows", "80000").option("parts", "8").load()

  test("full scan: deterministic row function, exact cardinality") {
    val r = ticks.agg(
      count(lit(1)).as("n"),
      sum("price_cents").as("s"),
      countDistinct("sym").as("nsym")).head()
    assert(r.getLong(0) === 80000L)
    // Σ (1000 + (i*37) % 9000) for i in [0, 80000) — recomputed here
    // with the same integer arithmetic as the reader.
    val expected = (0L until 80000L).map(i => 1000L + (i * 37) % 9000).sum
    assert(r.getLong(1) === expected)
    assert(r.getLong(2) === 8L)
  }

  test("tick_id bound prunes input partitions at planning time") {
    val pruned = ticks.filter(col("tick_id") < 20000L)
    // 8 ranges of 10k ids; ids < 20000 live in the first 2.
    assert(pruned.rdd.getNumPartitions === 2,
      "tick_id bound should delete non-overlapping ranges from the plan")
    assert(pruned.count() === 20000L)
  }

  test("pushed filters are visible in the plan and applied exactly") {
    val q = ticks.filter(col("sym") === "BETA" && col("tick_id") >= 40000L)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") && plan.contains("EqualTo(sym,BETA)"),
      s"pushed filters missing from scan description:\n$plan")
    // sym BETA = ids ≡ 1 (mod 8); ids in [40000, 80000) → 5000 rows.
    assert(q.count() === 5000L)
    assert(q.agg(min("tick_id"), max("tick_id")).head() ===
      org.apache.spark.sql.Row(40001L, 79993L))
  }

  test("column pruning reaches the reader") {
    val q = ticks.select("day").filter(col("tick_id") < 1000L)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<day:int>"),
      s"reader should materialize only the pruned schema:\n$plan")
    assert(q.distinct().count() === 11L) // ids < 1000 → days 0..10
  }

  test("sql_recursive_walk: depth-k scores equal matrix-power recompute") {
    val out = graft.queries.Advanced.sqlRecursiveWalk(spark, sf)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    // Independent recompute: walk scores are (count-matrix)^k rows.
    val edges = graft.queries.Advanced.walkEdges(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    var front: Map[String, Long] = Map("signup" -> 1L)
    (1 to 3).foreach { depth =>
      front = front.toSeq
        .flatMap { case (src, sc) =>
          edges.collect { case ((s, d), w) if s == src => d -> sc * w } }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      front.foreach { case (node, score) =>
        assert(out((node, depth)) === score,
          s"walk score mismatch at ($node, $depth)") }
    }
  }

  test("aggregate pushdown: partial aggs visible in plan, results exact") {
    val q = graft.queries.Advanced.scanDsv2Agg(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates:") && plan.contains("sum(price_cents)"),
      s"aggregate should be pushed into the source:\n$plan")
    // Exact recompute from the row function.
    val byGroup = (0L until 150000L).groupBy(i => graft.sources.TickSource.sym(i))
    val rows = q.collect().map(r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4)))).toMap
    byGroup.foreach { case (sym, ids) =>
      val (n, s2, mn, mx) = rows(sym)
      assert(n === ids.size.toLong)
      assert(s2 === ids.map(graft.sources.TickSource.priceCents).sum)
      assert(mn === ids.map(graft.sources.TickSource.day).min)
      assert(mx === ids.map(graft.sources.TickSource.day).max)
    }
  }

  test("aggregate pushdown declines unsupported shapes (distinct, strings)") {
    // count(DISTINCT day) and min(sym) must NOT push — the source
    // declines, Spark aggregates raw rows, results stay correct.
    val q = ticks.groupBy("sym")
      .agg(countDistinct("day").as("nd"), min("sym").as("msym"))
    assert(!q.queryExecution.executedPlan.toString.contains("PushedAggregates:"))
    val r = q.filter(col("sym") === "ALPHA").head()
    assert(r.getLong(1) === 30L && r.getString(2) === "ALPHA")
  }

  test("stream_available_now: incremental run equals batch aggregate") {
    val streamed = graft.streaming.StreamingOps.availableNowRun(spark, sf)
      .collect().map(_.mkString("|")).toSet
    val batch = graft.core.Tables.load(spark, sf, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_value"))
      .collect().map(_.mkString("|")).toSet
    assert(streamed === batch && streamed.nonEmpty)
  }

  test("streaming read: multi-batch incremental drain equals batch scan") {
    import org.apache.spark.sql.streaming.Trigger
    val q = spark.readStream.format("graft.sources.TickSource")
      .option("rows", "50000").option("parts", "4")
      .option("batchRows", "12000").load()
      .groupBy("sym").agg(sum("price_cents").as("s"), count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .format("memory").queryName("graft_tick_stream").start()
    try {
      q.awaitTermination()
      // 50000 ids at <=12000/batch → at least 5 micro-batches committed.
      val batches = q.recentProgress.count(_.numInputRows > 0)
      assert(batches >= 5, s"expected >=5 micro-batches, saw $batches")
    } finally q.stop()
    val streamed = spark.table("graft_tick_stream")
      .collect().map(_.mkString("|")).toSet
    val batch = spark.read.format("graft.sources.TickSource")
      .option("rows", "50000").option("parts", "4").load()
      .groupBy("sym").agg(sum("price_cents").as("s"), count(lit(1)).as("n"))
      .collect().map(_.mkString("|")).toSet
    assert(streamed === batch && streamed.size === 8)
  }

  test("streaming read honors pushed filters (consumed-filter contract)") {
    import org.apache.spark.sql.streaming.Trigger
    // If the shared scan builder consumed these, the streaming planner
    // MUST apply them too — a consumed-but-unapplied filter silently
    // corrupts results.
    val q = spark.readStream.format("graft.sources.TickSource")
      .option("rows", "40000").option("parts", "4")
      .option("batchRows", "15000").load()
      .filter(col("tick_id") >= 10000L && col("tick_id") < 30000L
        && col("sym") === "ALPHA")
      .groupBy("sym").agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .format("memory").queryName("graft_tick_stream_f").start()
    try q.awaitTermination() finally q.stop()
    val r = spark.table("graft_tick_stream_f").head()
    // ALPHA = ids ≡ 0 (mod 8); ids in [10000, 30000) → 2500 rows.
    assert(r.getString(0) === "ALPHA" && r.getLong(1) === 2500L)
  }

  test("sql_scripting: variable threshold equals inline recompute") {
    val out = graft.queries.Advanced.sqlScripting(spark, sf)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val orders = graft.core.Tables.load(spark, sf, "orders")
    val ap = orders.agg(
      round(avg(col("o_totalprice")
        .cast(org.apache.spark.sql.types.DecimalType(18, 2))), 2)
        .cast("double")).head().getDouble(0)
    val exp = orders.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_totalprice") > ap, 1L).otherwise(0L)).as("n_above"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out === exp && out.nonEmpty)
  }

  test("etl_observe: observed metrics equal a plain aggregate") {
    val m = graft.queries.Advanced.etlObserve(spark, sf).head()
    val a = graft.core.Tables.load(spark, sf, "lineitem").agg(
      count(lit(1)), sum(when(col("l_quantity") <= 0d, 1L).otherwise(0L)),
      min("l_quantity"), max("l_quantity")).head()
    assert(m.getLong(0) === a.getLong(0))
    assert(m.getLong(1) === a.getLong(1))
    assert(m.getDouble(4) === a.getDouble(2))
    assert(m.getDouble(5) === a.getDouble(3))
  }
}
