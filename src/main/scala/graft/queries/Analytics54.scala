package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables

/** Round-11 batch AI: the PAIRED-test family, on week-over-week daily
  * revenue differences (day d vs day d+7 — the seasonal pairing that
  * removes the weekly cycle the periodogram surfaced).
  *
  *  - `agg_ttest_paired` — paired t on the exact-integer diffs
  *    (moments fully decimal-exact; the only irrational is the final
  *    √).
  *  - `agg_wilcoxon_signed_rank` — the nonparametric twin: mid-ranks
  *    of |d| over the distinct-value census (exact halves below 2^53,
  *    the `agg_kruskal_wallis` machinery), zero diffs dropped, normal
  *    approximation with the tie-corrected variance.
  *  - `agg_sign_test` — the exact binomial sign test: two-sided tail
  *    Σ C(n,k)/2ⁿ computed in log space over a DECIMAL(38,18)
  *    ln-factorial table (the `agg_fisher_exact` machinery), so the
  *    p-value is exact-to-ulps, not a normal approximation.
  */
object Analytics54 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** The shared paired-diff CTE: d(x) = y(x+7) − y(x), exact integers. */
  private def pairedCte(orders: String, dayIdx: String): String =
    s"""daily AS (
       |  SELECT CAST($dayIdx AS BIGINT) AS x,
       |         CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))))
       |              AS DECIMAL(19,0)) AS y
       |  FROM $orders GROUP BY 1),
       |pd AS (SELECT a.x, b.y - a.y AS d
       |      FROM daily a JOIN daily b ON b.x = a.x + 7)""".stripMargin

  // ---------------------------------------------------------------------
  // agg_ttest_paired
  // ---------------------------------------------------------------------

  private def pairedTSql(orders: String, dayIdx: String): String =
    s"""${pairedCte(orders, dayIdx)},
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |        CAST(sum(CAST(d AS DECIMAL(38,0))) AS DOUBLE) AS sd_,
       |        CAST(sum(CAST(d AS DECIMAL(19,0)) * d) AS DOUBLE) AS sdd
       |      FROM pd)
       |SELECT n AS n_pairs, sd_ / n AS mean_diff,
       |  sqrt((sdd - sd_ * sd_ / n) / (n - 1)) AS sd_diff,
       |  (sd_ / n) / (sqrt((sdd - sd_ * sd_ / n) / (n - 1))
       |               / sqrt(CAST(n AS DOUBLE))) AS t_stat,
       |  n - 1 AS dof
       |FROM m""".stripMargin

  def aggTtestPaired(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("graft_pt_orders")
    s.sql("WITH " + pairedTSql("graft_pt_orders",
      "datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01')"))
  }

  // ---------------------------------------------------------------------
  // agg_wilcoxon_signed_rank
  // ---------------------------------------------------------------------

  private def wilcoxonSql(orders: String, dayIdx: String): String =
    s"""${pairedCte(orders, dayIdx)},
       |nz AS (SELECT d, abs(d) AS ad FROM pd WHERE d <> 0),
       |c AS (SELECT ad, CAST(count(*) AS BIGINT) AS cnt,
       |        CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |          AS pos
       |      FROM nz GROUP BY ad),
       |rk AS (SELECT ad, cnt, pos,
       |        CAST(2 * coalesce(sum(cnt) OVER (ORDER BY ad
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |            0) + cnt + 1 AS DOUBLE) / 2.0 AS mid
       |      FROM c),
       |s AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
       |        sum(CAST(pos AS DOUBLE) * mid) AS w_plus,
       |        CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tsum
       |      FROM rk)
       |SELECT n, w_plus,
       |  CAST(n AS DOUBLE) * (n + 1) / 4.0 AS mu_w,
       |  (w_plus - CAST(n AS DOUBLE) * (n + 1) / 4.0)
       |    / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 2.4e1
       |           - CAST(tsum AS DOUBLE) / 4.8e1) AS z
       |FROM s""".stripMargin

  def aggWilcoxonSignedRank(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("graft_wx_orders")
    s.sql("WITH " + wilcoxonSql("graft_wx_orders",
      "datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01')"))
  }

  // ---------------------------------------------------------------------
  // agg_sign_test
  // ---------------------------------------------------------------------

  /** Exact two-sided binomial: p = min(1, 2·Σ_{k≤min(n+,n−)}
    * C(n,k)/2ⁿ). ln C(n,k) − n·ln 2 from the pinned ln-factorial
    * table; the k-tail sums in DECIMAL(38,18). */
  private def signBody: String =
    s"""lf AS (SELECT i,
       |        CAST(sum(CAST(ln(CAST(i AS DOUBLE)) AS DECIMAL(38,18)))
       |             OVER (ORDER BY i) AS DOUBLE) AS f
       |      FROM idx),
       |lf0 AS (SELECT CAST(0 AS BIGINT) AS i, CAST(0.0 AS DOUBLE) AS f
       |        UNION ALL SELECT i, f FROM lf),
       |ks AS (SELECT i.i AS k, m.np, m.nm, m.n
       |       FROM lf0 i CROSS JOIN m
       |       WHERE i.i <= least(m.np, m.nm)),
       |p AS (SELECT ks.k, ks.np, ks.nm, ks.n,
       |        exp(fn.f - fk.f - fnk.f
       |            - CAST(ks.n AS DOUBLE) * ln(2.0e0)) AS pk
       |      FROM ks
       |        JOIN lf0 fn  ON fn.i  = ks.n
       |        JOIN lf0 fk  ON fk.i  = ks.k
       |        JOIN lf0 fnk ON fnk.i = ks.n - ks.k)
       |SELECT max(np) AS n_pos, max(nm) AS n_neg,
       |  least(1.0e0, 2.0e0 *
       |    CAST(sum(CAST(pk AS DECIMAL(38,18))) AS DOUBLE)) AS p_exact
       |FROM p""".stripMargin

  private def signMargins(orders: String, dayIdx: String): String =
    s"""${pairedCte(orders, dayIdx)},
       |m AS (SELECT
       |  CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS np,
       |  CAST(sum(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT) AS nm,
       |  CAST(sum(CASE WHEN d <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n
       |  FROM pd)""".stripMargin

  def aggSignTest(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("graft_sg_orders")
    s.sql("WITH " + signMargins("graft_sg_orders",
      "datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01')") +
      ",\nidx AS (SELECT explode(sequence(1L, m.n)) AS i FROM m),\n" +
      signBody)
  }

  private val signOracleSql: String =
    "WITH " + signMargins("orders",
      "datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))") +
      ",\nidx AS (SELECT CAST(unnest(generate_series(1, " +
      "CAST(m.n AS BIGINT))) AS BIGINT) AS i FROM m),\n" + signBody

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("agg_ttest_paired", aggTtestPaired, "WITH " + pairedTSql("orders",
      "datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))")),
    QueryDef("agg_wilcoxon_signed_rank", aggWilcoxonSignedRank,
      "WITH " + wilcoxonSql("orders",
        "datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))")),
    QueryDef("agg_sign_test", aggSignTest, signOracleSql))
}
