package graft.queries

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.QueryDef
import graft.core.Tables

/** Round-7 surface, part 2: the Spark-4 SQL/connector features a user
  * migrating a warehouse workload expects to keep — recursive CTEs
  * (graph walks in pure SQL), a custom DataSource V2 with real filter
  * and column pushdown, and single-pass pipeline observability
  * (`Dataset.observe`) so DQ metrics don't cost a second scan.
  *
  * Determinism rules as in [[Relational]]: integer/decimal-pinned
  * arithmetic wherever an accumulation crosses the Spark/DuckDB
  * boundary; doubles only carry values both engines store bit-equal.
  */
object Advanced {

  /** Weighted-walk counting via a recursive CTE (Spark 4 UnionLoop):
    * from the `signup` node, every walk of length ≤ 3 over the
    * event-type transition graph, scored by the product of observed
    * transition counts — the recursion computes A¹..A³ of the
    * transition-count matrix row-by-row, the SQL-native shape of
    * "where does traffic go k steps after signup".
    *
    * The edge table (≤ 25 rows over 5 event types) is built once with
    * one window pass + one aggregation; the recursion fans out at most
    * 5^3 rows before the final re-aggregation, so the UnionLoop state
    * stays trivially bounded (depth < 3 is the loop guard — the
    * default recursion-level limit is never approached). Weights are
    * BIGINT products of BIGINT counts: exact in both engines (walk
    * score ≤ (n_events)³ per term — far inside int64 at fixture
    * scale; the 100 TB variant would pin DECIMAL(38,0)). */
  def sqlRecursiveWalk(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir,
      """WITH RECURSIVE walk(node, depth, score) AS (
        |  SELECT 'signup', 0, CAST(1 AS BIGINT)
        |  UNION ALL
        |  SELECT e.dst, w.depth + 1, w.score * e.w
        |  FROM walk w JOIN graft_rec_edges e ON e.src = w.node
        |  WHERE w.depth < 3
        |)
        |SELECT node, depth, SUM(score) AS walk_score, COUNT(*) AS n_walks
        |FROM walk WHERE depth > 0
        |GROUP BY node, depth""".stripMargin,
      "graft_rec_edges" -> walkEdges(s, dir))

  /** The (src, dst, w) transition-count table `sql_recursive_walk`
    * walks, checkpointed. */
  private[graft] def walkEdges(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
      .orderBy(col("us"), col("event_id"))
    Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("dst", lead("event_type", 1).over(w))
      .filter(col("dst").isNotNull)
      .groupBy(col("event_type").as("src"), col("dst"))
      .agg(count(lit(1)).as("w"))
      // Materialize the ≤25-row edge table BEFORE the recursion:
      // UnionLoop re-executes the joined view's subplan per iteration,
      // so left lazy the full scan→window→aggregate chain ran once per
      // depth level (3×) instead of once.
      .transform { df =>
        import graft.core.CkptTap._
        df.tappedLocalCheckpoint()
      }
  }

  /** Custom DataSource V2 scan ([[graft.sources.TickSource]]) with both
    * pushdowns exercised: the `tick_id` bound prunes input partitions
    * at planning time, the `sym` equality is applied inside the
    * reader, and only (sym, day, price_cents) are materialized.
    * `TickSourceSpec` pins all three from the plan; here the oracle
    * pins that the pushed filters are applied EXACTLY (a source that
    * consumes a filter and then under-applies it silently corrupts
    * every downstream query — the worst failure mode of a custom
    * connector). */
  def scanDsv2(s: SparkSession, dir: String): DataFrame =
    s.read.format("graft.sources.TickSource")
      .option("rows", "200000").option("parts", "16").load()
      .filter(col("tick_id") < 120000L && col("sym") === "GAMMA")
      .groupBy("day")
      .agg(count(lit(1)).as("n"), sum("price_cents").as("sum_cents"))

  /** Aggregate pushdown into the custom source
    * ([[graft.sources.TickSource]] `SupportsPushDownAggregates`):
    * count/sum/min/max group-by-sym is evaluated INSIDE each input
    * partition, so only |syms|·|partitions| pre-aggregated rows reach
    * Spark's final merge — on a 100 TB feed the network moves
    * kilobytes, not the table. Partial pushdown keeps it correct
    * under any partition count (Spark plans the merge aggregate).
    * The tick_id bound composes: partition pruning first, then
    * in-source aggregation over the surviving ranges. */
  def scanDsv2Agg(s: SparkSession, dir: String): DataFrame =
    s.read.format("graft.sources.TickSource")
      .option("rows", "200000").option("parts", "16").load()
      .filter(col("tick_id") < 150000L)
      .groupBy("sym")
      .agg(count(col("price_cents")).as("n"),
        sum("price_cents").as("sum_cents"),
        min("day").as("min_day"), max("day").as("max_day"))

  /** Single-pass DQ metrics via `Dataset.observe`: the five audit
    * numbers ride the SAME job that materializes the table (here a
    * `noop`-sink write standing in for the production sink), so the
    * 100 TB pipeline pays zero extra scans for its run-ledger row —
    * versus `etl_dq_rules`, which is the standalone-audit shape.
    * The observed values surface as a one-row DataFrame; the oracle
    * recomputes them with plain aggregates, pinning that metric
    * collection is exact, not sampled. */
  def etlObserve(s: SparkSession, dir: String): DataFrame = {
    val obs = Observation()
    Tables.load(s, dir, "lineitem").observe(obs,
      count(lit(1)).as("n_rows"),
      sum(when(col("l_quantity") <= 0d, 1L).otherwise(0L)).as("n_nonpos_qty"),
      sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("n_null_ship"),
      sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double")
        .as("sum_price"),
      min(col("l_quantity")).as("min_qty"),
      max(col("l_quantity")).as("max_qty"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    val row = Row(m("n_rows"), m("n_nonpos_qty"), m("n_null_ship"),
      m("sum_price"), m("min_qty"), m("max_qty"))
    s.createDataFrame(
      java.util.Collections.singletonList(row),
      StructType(Seq(
        StructField("n_rows", LongType),
        StructField("n_nonpos_qty", LongType),
        StructField("n_null_ship", LongType),
        StructField("sum_price", DoubleType),
        StructField("min_qty", DoubleType),
        StructField("max_qty", DoubleType))))
  }

  /** The custom source's STREAMING face driven end-to-end: the same
    * TickSource read through `readStream` becomes an offset-cursored
    * micro-batch stream (offset = next unread tick_id) whose
    * admission control caps each batch at `batchRows` ids — so this
    * graded query executes a real multi-batch incremental drain under
    * `Trigger.AvailableNow` and must still equal the oracle's
    * one-shot recompute. This is the contract that makes a custom
    * connector trustworthy in production: batch and streaming reads
    * of the same table agree bit-for-bit. */
  def streamDsv2(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val w = s.readStream.format("graft.sources.TickSource")
      .option("rows", "100000").option("parts", "8")
      .option("batchRows", "30000").load()
      .groupBy("sym")
      .agg(count(lit(1)).as("n"), sum("price_cents").as("sum_cents"))
      .writeStream.outputMode("complete")
      .trigger(Trigger.AvailableNow())
    graft.streaming.StreamingOps.memorySinkRun(s, "graft_stream_dsv2", dir, w)(
      _.awaitTermination())
  }

  /** SQL scripting (Spark 4 `BEGIN … END` with session variables): a
    * two-step procedural flow — compute a corpus statistic into a
    * variable, then parameterize the main query with it — expressed
    * entirely in SQL, the migration target for warehouse stored
    * procedures. The threshold is decimal-averaged and rounded to 2
    * decimals so the variable's value (and therefore the `>` boundary)
    * is bit-identical in both engines. */
  def sqlScripting(s: SparkSession, dir: String): DataFrame = {
    // A script is not a query plan: only spark.sql runs it, so its
    // table is a session view rather than a Tables.sql binding.
    Tables.load(s, dir, "orders").createOrReplaceTempView("graft_script_orders")
    s.sql(
      """BEGIN
        |  DECLARE avg_price DOUBLE DEFAULT 0.0;
        |  SET avg_price =
        |    (SELECT CAST(ROUND(AVG(CAST(o_totalprice AS DECIMAL(18,2))), 2)
        |            AS DOUBLE) FROM graft_script_orders);
        |  SELECT o_orderpriority, COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN o_totalprice > avg_price THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_above,
        |    avg_price AS threshold
        |  FROM graft_script_orders GROUP BY o_orderpriority;
        |END""".stripMargin)
  }

  // ---------------------------------------------------------------- maps

  val queries: Seq[QueryDef] = Seq(
    QueryDef("sql_recursive_walk", sqlRecursiveWalk,
      """WITH RECURSIVE
        |e AS (SELECT user_id, event_type,
        |             epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
        |      FROM events),
        |o AS (SELECT event_type AS src,
        |             LEAD(event_type) OVER (PARTITION BY user_id
        |                                    ORDER BY us, event_id) AS dst
        |      FROM e),
        |edges AS (SELECT src, dst, COUNT(*) AS w FROM o
        |          WHERE dst IS NOT NULL GROUP BY src, dst),
        |walk(node, depth, score) AS (
        |  SELECT 'signup', 0, CAST(1 AS BIGINT)
        |  UNION ALL
        |  SELECT e.dst, w.depth + 1, w.score * e.w
        |  FROM walk w JOIN edges e ON e.src = w.node
        |  WHERE w.depth < 3)
        |SELECT node, depth, CAST(SUM(score) AS BIGINT) AS walk_score,
        |       COUNT(*) AS n_walks
        |FROM walk WHERE depth > 0
        |GROUP BY node, depth""".stripMargin),
    QueryDef("scan_dsv2", scanDsv2,
      """WITH t AS (
        |  SELECT i AS tick_id,
        |         ['ALPHA','BETA','GAMMA','DELTA','EPS','ZETA','ETA','THETA']
        |           [CAST(i % 8 AS INT) + 1] AS sym,
        |         CAST((i // 97) % 30 AS INT) AS day,
        |         1000 + (i * 37) % 9000 AS price_cents
        |  FROM generate_series(0, 199999) AS g(i))
        |SELECT day, COUNT(*) AS n, CAST(SUM(price_cents) AS BIGINT) AS sum_cents
        |FROM t WHERE tick_id < 120000 AND sym = 'GAMMA'
        |GROUP BY day""".stripMargin),
    QueryDef("scan_dsv2_agg", scanDsv2Agg,
      """WITH t AS (
        |  SELECT i AS tick_id,
        |         ['ALPHA','BETA','GAMMA','DELTA','EPS','ZETA','ETA','THETA']
        |           [CAST(i % 8 AS INT) + 1] AS sym,
        |         CAST((i // 97) % 30 AS INT) AS day,
        |         1000 + (i * 37) % 9000 AS price_cents
        |  FROM generate_series(0, 199999) AS g(i))
        |SELECT sym, COUNT(price_cents) AS n,
        |       CAST(SUM(price_cents) AS BIGINT) AS sum_cents,
        |       MIN(day) AS min_day, MAX(day) AS max_day
        |FROM t WHERE tick_id < 150000
        |GROUP BY sym""".stripMargin),
    QueryDef("sql_scripting", sqlScripting,
      """WITH a AS (SELECT CAST(ROUND(AVG(CAST(o_totalprice AS DECIMAL(18,2))), 2)
        |                  AS DOUBLE) AS ap FROM orders)
        |SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN o_totalprice > ap THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_above,
        |  ap AS threshold
        |FROM orders, a GROUP BY o_orderpriority, ap""".stripMargin),
    QueryDef("stream_dsv2", streamDsv2,
      """WITH t AS (
        |  SELECT ['ALPHA','BETA','GAMMA','DELTA','EPS','ZETA','ETA','THETA']
        |           [CAST(i % 8 AS INT) + 1] AS sym,
        |         1000 + (i * 37) % 9000 AS price_cents
        |  FROM generate_series(0, 99999) AS g(i))
        |SELECT sym, COUNT(*) AS n, CAST(SUM(price_cents) AS BIGINT) AS sum_cents
        |FROM t GROUP BY sym""".stripMargin),
    QueryDef("etl_observe", etlObserve,
      """SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_nonpos_qty,
        |  CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_null_ship,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price,
        |  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
        |FROM lineitem""".stripMargin))
}
