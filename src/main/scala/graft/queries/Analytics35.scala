package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables

/** Round-11 batch O: paired-outcome, agreement, and inequality
  * statistics — the experiment-analysis tail.
  *
  *  - `agg_mcnemar` — McNemar's paired test on per-user error
  *    incidence before/after the integer-midpoint time split (the
  *    discordant-pair census b/c, plain and continuity-corrected
  *    statistics).
  *  - `agg_cohens_kappa` — Cohen's κ agreement between two
  *    deterministic "raters" over orders (price-based vs
  *    priority-based high-value calls).
  *  - `agg_partial_corr` — first-order partial correlation
  *    r_xy·z of (quantity, price | discount) from exact decimal
  *    second moments.
  *  - `agg_lorenz_curve` — decile Lorenz curve of order revenue
  *    (deterministic ntile, cumulative decimal shares) — the curve
  *    behind `agg_gini`'s scalar.
  *
  * All four are integer/decimal censuses with O(1) double emissions;
  * shared SQL text on both engines (modulo the epoch/intdiv dialects).
  */
object Analytics35 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---------------------------------------------------------------------
  // agg_mcnemar
  // ---------------------------------------------------------------------

  /** Paired binary outcome per user: "had ≥1 error event" in the pre
    * vs post half (integer-midpoint split). The test only consumes
    * the discordant counts; both statistics are ratios of exact
    * integers. */
  private def mcnemarSql(events: String, epochUs: String => String,
      intdiv: String): String =
    s"""e AS (SELECT user_id, event_type, ${epochUs("ts")} AS us
       |      FROM $events),
       |mid AS (SELECT (MIN(us) + MAX(us)) $intdiv 2 AS m FROM e),
       |u AS (SELECT e.user_id,
       |        max(CASE WHEN e.event_type = 'error' AND e.us < mid.m
       |                 THEN 1 ELSE 0 END) AS err_pre,
       |        max(CASE WHEN e.event_type = 'error' AND e.us >= mid.m
       |                 THEN 1 ELSE 0 END) AS err_post
       |      FROM e CROSS JOIN mid GROUP BY e.user_id),
       |cells AS (SELECT
       |    CAST(count(*) AS BIGINT) AS n_users,
       |    CAST(sum(CASE WHEN err_pre = 1 AND err_post = 0
       |                  THEN 1 ELSE 0 END) AS BIGINT) AS b,
       |    CAST(sum(CASE WHEN err_pre = 0 AND err_post = 1
       |                  THEN 1 ELSE 0 END) AS BIGINT) AS c
       |  FROM u)
       |SELECT n_users, b, c,
       |  CASE WHEN b + c > 0 THEN
       |    CAST((b - c) * (b - c) AS DOUBLE) / (b + c) END AS mcnemar,
       |  CASE WHEN b + c > 0 THEN
       |    CAST((abs(b - c) - 1) * (abs(b - c) - 1) AS DOUBLE) / (b + c)
       |  END AS mcnemar_cc
       |FROM cells""".stripMargin

  def aggMcnemar(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events").createOrReplaceTempView("graft_mcn_events")
    s.sql("WITH " + mcnemarSql("graft_mcn_events",
      ts => s"unix_micros($ts)", "DIV"))
  }

  // ---------------------------------------------------------------------
  // agg_cohens_kappa
  // ---------------------------------------------------------------------

  /** κ between rater A (o_totalprice > 150000) and rater B
    * (priority ∈ {1-URGENT, 2-HIGH}): observed agreement p_o and
    * chance agreement p_e from the 2×2 integer census. */
  private def kappaSql(orders: String): String =
    s"""r AS (SELECT
       |        CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS a,
       |        CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
       |             THEN 1 ELSE 0 END AS b
       |      FROM $orders),
       |cells AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n11,
       |    CAST(sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n00,
       |    CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb
       |  FROM r),
       |p AS (SELECT n, n11, n00,
       |    CAST(n11 + n00 AS DOUBLE) / n AS po,
       |    (CAST(na AS DOUBLE) / n) * (CAST(nb AS DOUBLE) / n)
       |      + (CAST(n - na AS DOUBLE) / n) * (CAST(n - nb AS DOUBLE) / n)
       |      AS pe
       |  FROM cells)
       |SELECT n, n11, n00, po, pe, (po - pe) / (1.0 - pe) AS kappa
       |FROM p""".stripMargin

  def aggCohensKappa(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("graft_kap_orders")
    s.sql("WITH " + kappaSql("graft_kap_orders"))
  }

  // ---------------------------------------------------------------------
  // agg_partial_corr
  // ---------------------------------------------------------------------

  /** r_xy·z = (r_xy − r_xz·r_yz) / sqrt((1−r_xz²)(1−r_yz²)) over
    * x = quantity, y = extendedprice, z = discount. All three pairwise
    * correlations come from one pass of exact decimal sums (products
    * stay ≤ DECIMAL(28,…)); the double algebra happens once on O(1)
    * aggregates. */
  private def partialSql(lineitem: String): String = {
    def r(sxy: String, sx: String, sy: String, sxx: String,
        syy: String): String =
      s"""(($sxy - $sx * $sy / n)
         | / sqrt(($sxx - $sx * $sx / n) * ($syy - $sy * $sy / n)))""".stripMargin
    s"""m AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(CAST(l_quantity      AS DECIMAL(9,2)))  AS DOUBLE) AS sx,
       |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
       |  CAST(sum(CAST(l_discount      AS DECIMAL(6,4)))  AS DOUBLE) AS sz,
       |  CAST(sum(CAST(l_quantity AS DECIMAL(9,2))
       |         * CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS sxx,
       |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
       |         * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS syy,
       |  CAST(sum(CAST(l_discount AS DECIMAL(6,4))
       |         * CAST(l_discount AS DECIMAL(6,4))) AS DOUBLE) AS szz,
       |  CAST(sum(CAST(l_quantity AS DECIMAL(9,2))
       |         * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy,
       |  CAST(sum(CAST(l_quantity AS DECIMAL(9,2))
       |         * CAST(l_discount AS DECIMAL(6,4))) AS DOUBLE) AS sxz,
       |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
       |         * CAST(l_discount AS DECIMAL(6,4))) AS DOUBLE) AS syz
       |  FROM $lineitem),
       |rr AS (SELECT n,
       |  ${r("sxy", "sx", "sy", "sxx", "syy")} AS rxy,
       |  ${r("sxz", "sx", "sz", "sxx", "szz")} AS rxz,
       |  ${r("syz", "sy", "sz", "syy", "szz")} AS ryz
       |  FROM m)
       |SELECT n, rxy, rxz, ryz,
       |  (rxy - rxz * ryz)
       |    / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)) AS r_partial
       |FROM rr""".stripMargin
  }

  def aggPartialCorr(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("graft_pc_lineitem")
    s.sql("WITH " + partialSql("graft_pc_lineitem"))
  }

  // ---------------------------------------------------------------------
  // agg_lorenz_curve
  // ---------------------------------------------------------------------

  /** Decile Lorenz curve of order revenue: deterministic ntile over
    * the (price, orderkey) total order, per-decile exact decimal
    * sums, cumulative share per point. `agg_gini` integrates this
    * curve to a scalar; here the curve itself is the deliverable. */
  private def lorenzSql(orders: String): String =
    s"""r AS (SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v,
       |        ntile(10) OVER (ORDER BY o_totalprice, o_orderkey)
       |          AS decile
       |      FROM $orders),
       |d AS (SELECT CAST(decile AS BIGINT) AS decile,
       |        CAST(count(*) AS BIGINT) AS n, sum(v) AS sv
       |      FROM r GROUP BY decile),
       |c AS (SELECT decile, n, sv,
       |        sum(sv) OVER (ORDER BY decile
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |          AS cum_sv,
       |        sum(sv) OVER () AS tot_sv
       |      FROM d)
       |SELECT decile, n,
       |  CAST(sv AS DOUBLE) / CAST(tot_sv AS DOUBLE) AS share,
       |  CAST(cum_sv AS DOUBLE) / CAST(tot_sv AS DOUBLE) AS cum_share
       |FROM c""".stripMargin

  /** Spark side: the decile assignment over ALL orders is O(data), so
    * it rides [[graft.operators.ScalableNtile.withNtile]] (parallel
    * bucket decomposition, identical integers to the oracle's native
    * NTILE); the two remaining unpartitioned windows run over the
    * 10-row decile relation — bounded by k, not by data. */
  def aggLorenzCurve(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val r = graft.operators.ScalableNtile.withNtile(
      t(s, dir, "orders")
        .select(col("o_totalprice").cast(DecimalType(18, 2)).as("v"),
          col("o_totalprice"), col("o_orderkey")),
      10, Nil, col("o_totalprice"), Seq(col("o_orderkey")), "decile")
    r.groupBy(col("decile"))
      .agg(count(lit(1)).cast("long").as("n"), sum("v").as("sv"))
      .createOrReplaceTempView("graft_lz_d")
    s.sql(
      """WITH c AS (SELECT decile, n, sv,
        |        sum(sv) OVER (ORDER BY decile
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS cum_sv,
        |        sum(sv) OVER () AS tot_sv
        |      FROM graft_lz_d)
        |SELECT decile, n,
        |  CAST(sv AS DOUBLE) / CAST(tot_sv AS DOUBLE) AS share,
        |  CAST(cum_sv AS DOUBLE) / CAST(tot_sv AS DOUBLE) AS cum_share
        |FROM c""".stripMargin)
  }

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("agg_mcnemar", aggMcnemar, "WITH " + mcnemarSql("events",
      ts => s"epoch_us(CAST($ts AS TIMESTAMP))", "//")),
    QueryDef("agg_cohens_kappa", aggCohensKappa, "WITH " + kappaSql("orders")),
    QueryDef("agg_partial_corr", aggPartialCorr,
      "WITH " + partialSql("lineitem")),
    QueryDef("agg_lorenz_curve", aggLorenzCurve, "WITH " + lorenzSql("orders")))
}
