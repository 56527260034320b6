package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.QueryDef
import graft.core.Tables

/** Round-11 batch J: entity resolution, privacy auditing, and the
  * multiple-testing / residual-diagnostics tail of the stats surface.
  *
  *  - `etl_record_linkage` — Fellegi–Sunter probabilistic record
  *    linkage (customer↔supplier, nation-blocked candidate pairs,
  *    literal log-odds field weights).
  *  - `etl_k_anonymity` — k-anonymity audit over a quasi-identifier
  *    tuple (equivalence-class census + re-identification risk).
  *  - `agg_bh_fdr` — per-nation chi-square deviation from the global
  *    order-status mix, Benjamini–Hochberg FDR-adjusted across the
  *    25-nation test family.
  *  - `agg_cramers_v` — Cramér's V association strength for the
  *    status×priority contingency table.
  *  - `agg_durbin_watson` — Durbin–Watson autocorrelation diagnostic
  *    on daily-revenue OLS residuals.
  *  - `agg_adf_test` — Dickey–Fuller unit-root t-statistic on the
  *    daily-revenue series (lag-0 DF regression, exact decimal
  *    second moments).
  *
  * Determinism rules as in [[Analytics]]: integer/decimal censuses,
  * one cast to double per quantity, O(1)-magnitude emitted ratios
  * (never engine-order-dependent raw double sums).
  */
object Analytics30 {

  // ---------------------------------------------------------------------
  // etl_record_linkage
  // ---------------------------------------------------------------------

  /** Fellegi–Sunter linkage between the customer and supplier files:
    * candidate pairs are generated ONLY within a nation block (an
    * equi-join — at 100 TB this is the standard blocking pass; never
    * all-pairs), then each pair is scored by literal log₂(m/u) /
    * log₂((1−m)/(1−u)) agreement weights on three field comparators
    * (entity-number residue, account-balance band, balance sign).
    * Weights are PRE-COMPUTED literals so both engines consume
    * identical doubles rather than computing logs. Pairs above the
    * decision threshold are emitted. */
  private def linkageSql(customer: String, supplier: String): String =
    s"""c AS (SELECT c_custkey,  c_nationkey,
       |        CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT) % 100
       |          AS num_res,
       |        CAST(floor(c_acctbal / 500.0) AS BIGINT) AS bal_band,
       |        c_acctbal >= 0 AS bal_pos
       |      FROM $customer),
       |s AS (SELECT s_suppkey, s_nationkey,
       |        CAST(regexp_extract(s_name, '([0-9]+)', 1) AS BIGINT) % 100
       |          AS num_res,
       |        CAST(floor(s_acctbal / 500.0) AS BIGINT) AS bal_band,
       |        s_acctbal >= 0 AS bal_pos
       |      FROM $supplier),
       |pairs AS (
       |  SELECT c.c_custkey, s.s_suppkey,
       |    CASE WHEN c.num_res  = s.num_res
       |      THEN CAST(6.1293 AS DOUBLE) ELSE CAST(-3.2877 AS DOUBLE) END
       |      AS w_num,
       |    CASE WHEN c.bal_band = s.bal_band
       |      THEN CAST(4.3923 AS DOUBLE) ELSE CAST(-1.9434 AS DOUBLE) END
       |      AS w_bal,
       |    CASE WHEN c.bal_pos  = s.bal_pos
       |      THEN CAST(0.8480 AS DOUBLE) ELSE CAST(-2.5360 AS DOUBLE) END
       |      AS w_sign,
       |    CAST(CASE WHEN c.num_res  = s.num_res  THEN 1 ELSE 0 END
       |       + CASE WHEN c.bal_band = s.bal_band THEN 1 ELSE 0 END
       |       + CASE WHEN c.bal_pos  = s.bal_pos  THEN 1 ELSE 0 END
       |       AS BIGINT) AS n_agree
       |  FROM c JOIN s ON c.c_nationkey = s.s_nationkey)
       |SELECT c_custkey, s_suppkey, n_agree,
       |  w_num + w_bal + w_sign AS score,
       |  w_num + w_bal + w_sign > 9.0 AS is_match
       |FROM pairs
       |WHERE w_num + w_bal + w_sign > 5.0""".stripMargin

  // ---------------------------------------------------------------------
  // etl_k_anonymity
  // ---------------------------------------------------------------------

  /** k-anonymity audit: equivalence classes of the quasi-identifier
    * (nation, market segment, account-balance band); each class
    * reports its size k, whether it meets k≥5, and the worst-case
    * re-identification risk 1/k. One hash aggregation; the class
    * count is bounded by the QI cross-product (25×5×6), not the row
    * count — the same audit shape at 100 TB. */
  private def kAnonSql(customer: String): String =
    s"""cls AS (SELECT c_nationkey, c_mktsegment,
       |        CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS bal_band,
       |        CAST(count(*) AS BIGINT) AS k
       |      FROM $customer GROUP BY 1, 2, 3)
       |SELECT c_nationkey, c_mktsegment, bal_band, k,
       |  k >= 5 AS k_anon_ok,
       |  CAST(1.0 AS DOUBLE) / k AS reident_risk
       |FROM cls""".stripMargin

  // ---------------------------------------------------------------------
  // agg_bh_fdr
  // ---------------------------------------------------------------------

  /** Benjamini–Hochberg FDR over a 25-test family: per nation, the
    * chi-square deviation of its order-status mix from the global mix
    * (df = |statuses|−1 = 2, so the survival function is the exact
    * closed form p = exp(−χ²/2) — no erf needed). The BH step is two
    * windows: ascending p-rank, then the reverse running minimum of
    * p·m/rank. Missing (nation,status) cells enter through the
    * identity χ²ᵢ = nᵢ + Σ_present((o−e)²/e − e) (absent cells
    * contribute exactly e, and Σ_s e = nᵢ) — no nations×statuses
    * grid relation, so the plan is pure keyed equi-joins plus one
    * single-row cross (the PlanAuditSpec no-cartesian rule). */
  private def bhFdrSql(orders: String, customer: String): String =
    s"""o AS (SELECT c.c_nationkey AS nat, o.o_orderstatus AS st
       |      FROM $orders o JOIN $customer c
       |        ON o.o_custkey = c.c_custkey),
       |nos AS (SELECT nat, st, CAST(count(*) AS BIGINT) AS n_os
       |        FROM o GROUP BY 1, 2),
       |nn AS (SELECT nat, CAST(count(*) AS BIGINT) AS n_o
       |       FROM o GROUP BY 1),
       |ns AS (SELECT st, CAST(count(*) AS BIGINT) AS n_s
       |       FROM o GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM o),
       |dev AS (SELECT nos.nat, nn.n_o,
       |    nos.n_os - CAST(nn.n_o AS DOUBLE) * ns.n_s / tot.n AS d,
       |    CAST(nn.n_o AS DOUBLE) * ns.n_s / tot.n AS e
       |  FROM nos JOIN nn ON nn.nat = nos.nat
       |    JOIN ns ON ns.st = nos.st CROSS JOIN tot),
       |chi AS (SELECT nat, max(n_o) AS n_orders,
       |    max(n_o) + sum(d * d / e - e) AS chi2
       |  FROM dev GROUP BY nat),
       |p AS (SELECT nat, n_orders, chi2, exp(-chi2 / 2.0) AS p_value,
       |    CAST(row_number() OVER (ORDER BY exp(-chi2 / 2.0), nat)
       |         AS BIGINT) AS rnk,
       |    CAST(count(*) OVER () AS BIGINT) AS m
       |  FROM chi)
       |SELECT nat AS c_nationkey, CAST(n_orders AS BIGINT) AS n_orders,
       |  chi2, p_value, rnk,
       |  least(CAST(1.0 AS DOUBLE), min(p_value * m / rnk) OVER
       |    (ORDER BY rnk ROWS BETWEEN CURRENT ROW
       |       AND UNBOUNDED FOLLOWING)) AS p_adj,
       |  least(CAST(1.0 AS DOUBLE), min(p_value * m / rnk) OVER
       |    (ORDER BY rnk ROWS BETWEEN CURRENT ROW
       |       AND UNBOUNDED FOLLOWING)) <= 0.10 AS reject
       |FROM p""".stripMargin

  // ---------------------------------------------------------------------
  // agg_cramers_v
  // ---------------------------------------------------------------------

  /** Cramér's V for the status×priority contingency table:
    * V = sqrt(χ² / (n·min(r−1, c−1))). The table census is exact
    * integers; absent cells contribute (0−e)²/e through the bounded
    * r×c grid. Single-row output. */
  private def cramersSql(orders: String): String =
    s"""cell AS (SELECT o_orderstatus AS st, o_orderpriority AS pr,
       |        CAST(count(*) AS BIGINT) AS n_c
       |      FROM $orders GROUP BY 1, 2),
       |r AS (SELECT st, CAST(sum(n_c) AS BIGINT) AS n_r FROM cell
       |      GROUP BY 1),
       |c AS (SELECT pr, CAST(sum(n_c) AS BIGINT) AS n_col FROM cell
       |      GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_c) AS BIGINT) AS n,
       |        CAST(count(DISTINCT st) AS BIGINT) AS n_st,
       |        CAST(count(DISTINCT pr) AS BIGINT) AS n_pr FROM cell),
       |dev AS (SELECT
       |    coalesce(cell.n_c, 0)
       |      - CAST(r.n_r AS DOUBLE) * c.n_col / tot.n AS d,
       |    CAST(r.n_r AS DOUBLE) * c.n_col / tot.n AS e
       |  FROM r CROSS JOIN c CROSS JOIN tot
       |    LEFT JOIN cell ON cell.st = r.st AND cell.pr = c.pr),
       |chi AS (SELECT sum(d * d / e) AS chi2 FROM dev)
       |SELECT tot.n, tot.n_st AS n_rows_tbl, tot.n_pr AS n_cols_tbl,
       |  chi.chi2,
       |  sqrt(chi.chi2 / (tot.n * least(tot.n_st - 1, tot.n_pr - 1)))
       |    AS cramers_v
       |FROM chi CROSS JOIN tot""".stripMargin

  // ---------------------------------------------------------------------
  // agg_durbin_watson  /  agg_adf_test — shared daily series
  // ---------------------------------------------------------------------

  /** Daily whole-dollar revenue keyed by day index (the `agg_chow_test`
    * census: exact DECIMAL sum, floored once). */
  private def dailySql(orders: String, dayIdx: String): String =
    s"""daily AS (
       |  SELECT CAST($dayIdx AS BIGINT) AS x,
       |         CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))))
       |              AS DECIMAL(19,0)) AS y
       |  FROM $orders GROUP BY 1)""".stripMargin

  /** Durbin–Watson statistic of the daily-revenue-on-time OLS
    * residuals. Slope/intercept come from exact decimal second
    * moments (one cast each); residuals are evaluated per row with an
    * IDENTICAL expression shape in both engines, and only the
    * O(1)-magnitude ratio DW = Σ(Δe)²/Σe² is emitted (raw double sums
    * never leave the query, so engine fold order cannot surface at
    * the 1e-6 rounding the gate applies). */
  private def dwSql(orders: String, dayIdx: String): String =
    s"""${dailySql(orders, dayIdx)},
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
       |  CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
       |  CAST(sum(CAST(x AS DECIMAL(19,0)) * y) AS DOUBLE) AS sxy,
       |  CAST(sum(CAST(x AS DECIMAL(19,0)) * x) AS DOUBLE) AS sxx
       |  FROM daily),
       |fit AS (SELECT n,
       |  (sxy - sx * sy / n) / (sxx - sx * sx / n) AS b,
       |  sy / n - (sxy - sx * sy / n) / (sxx - sx * sx / n) * sx / n
       |    AS a
       |  FROM m),
       |e AS (SELECT daily.x,
       |    CAST(daily.y AS DOUBLE) - fit.a - fit.b * daily.x AS res,
       |    fit.n, fit.a, fit.b
       |  FROM daily CROSS JOIN fit),
       |d AS (SELECT x, res, n, a, b,
       |    res - lag(res) OVER (ORDER BY x) AS dres
       |  FROM e)
       |SELECT max(n) AS n_days, max(a) AS intercept, max(b) AS slope,
       |  sum(dres * dres) / sum(res * res) AS dw,
       |  1.0 - sum(dres * dres) / sum(res * res) / 2.0 AS rho_approx
       |FROM d""".stripMargin

  def aggDurbinWatson(s: SparkSession, dir: String): DataFrame = {
    Tables.sql(s, dir, "WITH " + dwSql("orders",
      "datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01')"))
  }

  /** Lag-0 Dickey–Fuller unit-root test on daily revenue:
    * Δy_t = α + ρ·y_{t−1} + ε, t(ρ̂) against the 5% critical value
    * −2.86 (constant-only DF, literal). Every second moment of the
    * (Δy, y_{t−1}) relation is an exact DECIMAL(38,…) sum over the
    * lag-joined decimal series — the double casts happen once, on
    * O(5) aggregate scalars, so the emitted t-stat is engine-order
    * independent by construction. */
  private def adfSql(orders: String, dayIdx: String): String =
    s"""${dailySql(orders, dayIdx)},
       |lagd AS (SELECT x, y,
       |    lag(y) OVER (ORDER BY x) AS yl
       |  FROM daily),
       |pairs AS (SELECT CAST(y - yl AS DECIMAL(16,0)) AS dy,
       |    CAST(yl AS DECIMAL(15,0)) AS yl
       |  FROM lagd WHERE yl IS NOT NULL),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(CAST(yl AS DECIMAL(38,0))) AS DOUBLE) AS sx,
       |  CAST(sum(CAST(dy AS DECIMAL(38,0))) AS DOUBLE) AS sy,
       |  CAST(sum(yl * dy) AS DOUBLE) AS sxy,
       |  CAST(sum(yl * yl) AS DOUBLE) AS sxx,
       |  CAST(sum(dy * dy) AS DOUBLE) AS syy
       |  FROM pairs),
       |fit AS (SELECT n,
       |  (sxy - sx * sy / n) / (sxx - sx * sx / n) AS rho,
       |  ((syy - sy * sy / n)
       |   - (sxy - sx * sy / n) * (sxy - sx * sy / n)
       |     / (sxx - sx * sx / n)) / (n - 2) AS s2,
       |  sxx - sx * sx / n AS sxx_c
       |  FROM m)
       |SELECT n AS n_pairs, rho AS rho_hat,
       |  sqrt(s2 / sxx_c) AS se_rho,
       |  rho / sqrt(s2 / sxx_c) AS adf_t,
       |  rho / sqrt(s2 / sxx_c) < -2.86 AS stationary_5pct
       |FROM fit""".stripMargin

  def aggAdfTest(s: SparkSession, dir: String): DataFrame = {
    Tables.sql(s, dir, "WITH " + adfSql("orders",
      "datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01')"))
  }

  // ---------------------------------------------------------------------

  private val duckDay =
    "datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))"

  val queries: Seq[QueryDef] = Seq(
    QueryDef.sql("etl_record_linkage",
      "WITH " + linkageSql("customer", "supplier")),
    QueryDef.sql("etl_k_anonymity", "WITH " + kAnonSql("customer")),
    QueryDef.sql("agg_bh_fdr", "WITH " + bhFdrSql("orders", "customer")),
    QueryDef.sql("agg_cramers_v", "WITH " + cramersSql("orders")),
    QueryDef("agg_durbin_watson", aggDurbinWatson,
      "WITH " + dwSql("orders", duckDay)),
    QueryDef("agg_adf_test", aggAdfTest, "WITH " + adfSql("orders", duckDay)))
}
