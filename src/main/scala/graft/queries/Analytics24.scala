package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryDef
import graft.core.Tables

/** Round-11 batch C: community scoring, robust statistics, and the
  * late-arriving-dimension warehouse pattern.
  *
  *  - `graph_modularity` — Newman modularity of the LPA partition
  *    ([[Analytics10]] recursion), scored per community.
  *  - `agg_winsorized_mean` — winsorized + trimmed means per return
  *    flag (the robust-location pair over exact decimal sums).
  *  - `etl_late_arriving_dim` — facts against an incomplete dimension
  *    snapshot: inferred members, late-batch resolution, and the
  *    unresolved remainder, per segment.
  *
  * Determinism rules as in [[Analytics]].
  */
object Analytics24 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---------------------------------------------------------------------
  // graph_modularity
  // ---------------------------------------------------------------------

  /** Newman modularity of the 4-round LPA communities over the
    * thresholded trade graph: per community c,
    * contribution = e_c/(2m) − (d_c/(2m))², with e_c the DIRECTED
    * intra-community edge count, d_c the community degree sum, and 2m
    * the directed edge count — all exact integers in both engines; the
    * division is the final closed-form step (round 6). Scale shape:
    * the star join runs once ([[Analytics10.tradeSym]] checkpoint);
    * the scoring is three bounded-key aggregations over the ≤|n|²
    * edge list. */
  def graphModularity(s: SparkSession, dir: String): DataFrame = {
    val sym = Analytics10.tradeSym(s, dir, "graft_mod")
    val lab = Analytics10.lpaLabels(s, sym)
    val m2 = sym.count().toDouble // directed edge count = 2m, tiny graph
    val deg = sym.groupBy(col("src").as("nk"))
      .agg(count(lit(1)).as("d"))
    val withLab = sym
      .join(lab.select(col("nk").as("src"), col("label").as("la")), "src")
      .join(lab.select(col("nk").as("dst"), col("label").as("lb")), "dst")
    val intra = withLab.filter(col("la") === col("lb"))
      .groupBy(col("la").as("label"))
      .agg(count(lit(1)).as("e_in"))
    val dc = deg.join(lab, "nk")
      .groupBy("label")
      .agg(sum("d").as("d_c"), count(lit(1)).as("n_nodes"))
    dc.join(intra, Seq("label"), "left")
      .select(col("label").cast("long").as("label"),
        col("n_nodes"),
        coalesce(col("e_in"), lit(0L)).as("e_in"), col("d_c"),
        round(coalesce(col("e_in"), lit(0L)) / m2 -
          (col("d_c") / m2) * (col("d_c") / m2), 6).as("q_contrib"))
  }

  // ---------------------------------------------------------------------
  // agg_winsorized_mean
  // ---------------------------------------------------------------------

  /** Winsorized (clamp at P5/P95) and trimmed (drop outside) means per
    * return flag. Percentiles take the engines' interpolated form
    * rounded at 4 dp (the `agg_median` parity rule); the clamped
    * values are then either original 2-decimal prices or that rounded
    * bound — both exact in DECIMAL(18,4), so the means are exact
    * decimal sums divided once at the end. */
  def aggWinsorizedMean(s: SparkSession, dir: String): DataFrame = {
    // Bounds census-style (ExactPercentile): l_extendedprice is ~97%
    // distinct, so the Percentile aggregate's per-partition maps are
    // the whole column — bit-identical values, relational cost.
    val q = graft.operators.ExactPercentile.of(
        t(s, dir, "lineitem"), Seq("l_returnflag"),
        col("l_extendedprice"), Seq(0.05 -> "ep05", 0.95 -> "ep95"))
      .select(col("l_returnflag"),
        round(col("ep05"), 4).as("p05"), round(col("ep95"), 4).as("p95"))
    t(s, dir, "lineitem").join(broadcast(q), "l_returnflag")
      .groupBy("l_returnflag")
      .agg(first("p05").as("p05"), first("p95").as("p95"),
        count(lit(1)).as("n"),
        (sum(least(greatest(col("l_extendedprice"), col("p05")), col("p95"))
          .cast(DecimalType(18, 4))).cast("double") / count(lit(1)))
          .as("winsorized_mean"),
        (sum(when(col("l_extendedprice").between(col("p05"), col("p95")),
          col("l_extendedprice").cast(DecimalType(18, 4)))).cast("double") /
          sum(when(col("l_extendedprice").between(col("p05"), col("p95")), 1L)
            .otherwise(0L))).as("trimmed_mean"))
  }

  // ---------------------------------------------------------------------
  // etl_late_arriving_dim
  // ---------------------------------------------------------------------

  /** The late-arriving-dimension pattern: the on-time customer
    * snapshot is missing every 11th key; facts referencing a missing
    * key get an INFERRED member ('UNKNOWN' segment) instead of being
    * dropped or failing the FK — then the late batch (half the
    * missing keys, c%22=0) arrives and resolves its placeholders,
    * while the other half stays inferred. Graded per final segment:
    * order/revenue census plus how many facts resolved late and how
    * many remain inferred — the audit a warehouse on-call reads after
    * a late dim load. The dim sides are UNHINTED equi-joins: customer
    * grows with the SF, so the optimizer broadcasts the on-time/late
    * slices while their measured size allows and shuffles past the
    * threshold; the pattern at 100 TB is identical with the dim in a
    * MERGE-maintained table. */
  def etlLateArrivingDim(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val onTime = cust.filter(col("c_custkey") % 11 =!= 0)
    val late = cust.filter(col("c_custkey") % 22 === 0)
    t(s, dir, "orders")
      .select(col("o_custkey"),
        col("o_totalprice").cast(DecimalType(18, 2)).as("price"))
      .join(onTime.select(col("c_custkey").as("o_custkey"),
        col("c_mktsegment").as("seg_ontime")), Seq("o_custkey"), "left")
      .join(late.select(col("c_custkey").as("o_custkey"),
        col("c_mktsegment").as("seg_late")), Seq("o_custkey"), "left")
      .select(
        coalesce(col("seg_ontime"), col("seg_late"), lit("UNKNOWN"))
          .as("segment"),
        col("price"),
        when(col("seg_ontime").isNull && col("seg_late").isNotNull, 1L)
          .otherwise(0L).as("resolved_late"),
        when(col("seg_ontime").isNull && col("seg_late").isNull, 1L)
          .otherwise(0L).as("inferred"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n_orders"),
        sum("price").cast("double").as("total"),
        sum("resolved_late").as("n_resolved_late"),
        sum("inferred").as("n_inferred"))
  }

  val queries: Seq[QueryDef] = Seq(
    QueryDef("graph_modularity", graphModularity,
      s"""WITH RECURSIVE ${Analytics10.lpaOracleCtes},
        |labels AS (SELECT nk, label FROM lp WHERE iter = 4),
        |m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m2 FROM sym),
        |deg AS (SELECT src AS nk, COUNT(*) AS d FROM sym GROUP BY src),
        |intra AS (SELECT la.label, COUNT(*) AS e_in
        |          FROM sym e
        |          JOIN labels la ON la.nk = e.src
        |          JOIN labels lb ON lb.nk = e.dst
        |          WHERE la.label = lb.label GROUP BY la.label),
        |dc AS (SELECT l.label, SUM(deg.d) AS d_c, COUNT(*) AS n_nodes
        |       FROM deg JOIN labels l ON l.nk = deg.nk GROUP BY l.label)
        |SELECT CAST(dc.label AS BIGINT) AS label, dc.n_nodes,
        |  CAST(COALESCE(intra.e_in, 0) AS BIGINT) AS e_in,
        |  CAST(dc.d_c AS BIGINT) AS d_c,
        |  ROUND(COALESCE(intra.e_in, 0) / m.m2
        |        - (dc.d_c / m.m2) * (dc.d_c / m.m2), 6) AS q_contrib
        |FROM dc LEFT JOIN intra ON intra.label = dc.label
        |CROSS JOIN m""".stripMargin),
    QueryDef("agg_winsorized_mean", aggWinsorizedMean,
      """WITH q AS (SELECT l_returnflag,
        |             ROUND(quantile_cont(l_extendedprice, 0.05), 4) AS p05,
        |             ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95
        |           FROM lineitem GROUP BY l_returnflag)
        |SELECT l.l_returnflag, q.p05, q.p95, COUNT(*) AS n,
        |  CAST(SUM(CAST(LEAST(GREATEST(l.l_extendedprice, q.p05), q.p95)
        |                AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
        |    AS winsorized_mean,
        |  CAST(SUM(CASE WHEN l.l_extendedprice BETWEEN q.p05 AND q.p95
        |             THEN CAST(l.l_extendedprice AS DECIMAL(18,4)) END)
        |       AS DOUBLE)
        |    / SUM(CASE WHEN l.l_extendedprice BETWEEN q.p05 AND q.p95
        |           THEN 1 ELSE 0 END) AS trimmed_mean
        |FROM lineitem l JOIN q ON l.l_returnflag = q.l_returnflag
        |GROUP BY l.l_returnflag, q.p05, q.p95""".stripMargin),
    QueryDef("etl_late_arriving_dim", etlLateArrivingDim,
      """WITH f AS (SELECT o.o_custkey,
        |             CAST(o.o_totalprice AS DECIMAL(18,2)) AS price,
        |             ot.c_mktsegment AS seg_ontime,
        |             lt.c_mktsegment AS seg_late
        |           FROM orders o
        |           LEFT JOIN (SELECT c_custkey, c_mktsegment FROM customer
        |                      WHERE c_custkey % 11 <> 0) ot
        |             ON ot.c_custkey = o.o_custkey
        |           LEFT JOIN (SELECT c_custkey, c_mktsegment FROM customer
        |                      WHERE c_custkey % 22 = 0) lt
        |             ON lt.c_custkey = o.o_custkey)
        |SELECT COALESCE(seg_ontime, seg_late, 'UNKNOWN') AS segment,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(price) AS DOUBLE) AS total,
        |  CAST(SUM(CASE WHEN seg_ontime IS NULL AND seg_late IS NOT NULL
        |             THEN 1 ELSE 0 END) AS BIGINT) AS n_resolved_late,
        |  CAST(SUM(CASE WHEN seg_ontime IS NULL AND seg_late IS NULL
        |             THEN 1 ELSE 0 END) AS BIGINT) AS n_inferred
        |FROM f GROUP BY COALESCE(seg_ontime, seg_late, 'UNKNOWN')""".stripMargin))
}
