package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.Salting

/** Pins the scale patterns PLANS.md claims: salting preserves join
  * semantics, bucketing removes the join exchange, dynamic partition
  * overwrite replaces only incoming partitions. */
class ScaleOpsSpec extends SparkTestBase {

  test("salted equi-join returns exactly the plain join's result") {
    val li = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_quantity")
    val o = Tables.load(spark, sf, "orders")
      .select("o_orderkey", "o_totalprice")
    val plain = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy("l_orderkey").agg(count(lit(1)).as("n"),
        round(sum("o_totalprice"), 2).as("s"))
    val salted = Salting.saltedEquiJoin(li, o, "l_orderkey", "o_orderkey", 4)
      .groupBy("l_orderkey").agg(count(lit(1)).as("n"),
        round(sum("o_totalprice"), 2).as("s"))
    val a = plain.collect().map(_.mkString("|")).sorted
    val b = salted.collect().map(_.mkString("|")).sorted
    assert(a.sameElements(b) && a.nonEmpty)
  }

  test("salted join plan is fully deterministic (stable under task retry)") {
    val li = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_quantity")
    val o = Tables.load(spark, sf, "orders")
      .select("o_orderkey", "o_totalprice")
    val joined = Salting.saltedEquiJoin(li, o, "l_orderkey", "o_orderkey", 4)
    val allDeterministic = joined.queryExecution.analyzed
      .collect { case p => p.expressions }.flatten
      .forall(_.deterministic)
    assert(allDeterministic,
      "salt must come from stable row content only — a nondeterministic " +
        "shuffle key risks row loss/duplication on partial stage retry")
  }

  test("bucketed tables co-locate the join: no shuffle exchange in plan") {
    val li = Tables.load(spark, sf, "lineitem")
    val o = Tables.load(spark, sf, "orders")
    spark.sql("DROP TABLE IF EXISTS graft_b_li")
    spark.sql("DROP TABLE IF EXISTS graft_b_o")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("graft_b_li")
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("graft_b_o")
    val joined = spark.table("graft_b_li")
      .join(spark.table("graft_b_o"),
        col("l_orderkey") === col("o_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")
    assert(joined.count() == li.count())
    spark.sql("DROP TABLE IF EXISTS graft_b_li")
    spark.sql("DROP TABLE IF EXISTS graft_b_o")
  }

  test("dynamic partition overwrite rewrites only incoming partitions") {
    import graft.etl.StockEtl
    val path = tempDir("graft_dynpart").toString + "/t"
    val all = StockEtl.clean(
      StockEtl.readRawCsv(spark, "/root/reference/stock_data.csv"))
    StockEtl.overwritePartitioned(all, path, "stock_name")
    assert(spark.read.parquet(path).count() == 208)
    // rewrite ONE index's partition with a single row
    val one = all.filter(col("stock_name") === "Dow Jones").limit(1)
    StockEtl.overwritePartitioned(one, path, "stock_name")
    val after = spark.read.parquet(path)
    assert(after.filter(col("stock_name") === "Dow Jones").count() == 1)
    // the other nine indices are untouched
    assert(after.filter(col("stock_name") =!= "Dow Jones").count() == 208 - 19)
  }

  test("runtime bloom filter prunes the fact scan behind a selective dim") {
    // At 100 TB the win is pruning fact rows BEFORE the join shuffle:
    // Spark's InjectRuntimeFilter builds a bloom filter from the
    // filtered (creation) side and stamps bloom_filter_might_contain
    // onto the fact (application) side. Thresholds are sized for real
    // clusters, so shrink them to fixture scale; broadcast is disabled
    // to force the shuffle-join shape the filter exists to protect.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = Tables.load(spark, sf, "lineitem")
      val o = Tables.load(spark, sf, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("bloom_filter_agg")
        && plan.toLowerCase.contains("might_contain"),
        s"no runtime bloom filter injected on the fact side:\n$plan")
      assert(joined.collect().map(_.getLong(1)).sum > 0)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
