package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables

/** Round-11 batch U: the nonparametric / categorical inference tail.
  *
  *  - `agg_kruskal_wallis` — Kruskal–Wallis H (k-sample rank ANOVA)
  *    of event value across event types, with the tie correction.
  *    Ranks come from the DISTINCT-VALUE census (cum-count + mid-rank
  *    per value), never a per-row global sort — the same trade every
  *    exact global quantile in the suite makes.
  *  - `agg_g_test` — likelihood-ratio G statistic over the same
  *    lang × source contingency as `agg_chi2` (2·Σ O·ln(O/E)).
  *  - `agg_odds_ratio` — 2×2 odds ratio on lineitem (returned ×
  *    deep-discount) with the Woolf logit 95% CI.
  *  - `agg_fisher_exact` — Fisher's exact test (hypergeometric
  *    right-tail) on a supplier 2×2. The log-factorial table is built
  *    by summing ln(i) over an integer series in DECIMAL(38,18)
  *    (order-free — a raw double running sum is engine-dependent:
  *    Spark folds frames left-to-right, DuckDB merges a segment
  *    tree); the tail probability sum is pinned the same way. Margins
  *    are bounded by the supplier dimension, so the series and the
  *    k-loop stay dimension-sized at any fact-table scale.
  *
  * Determinism notes: all rank sums are exact multiples of 0.5 below
  * 2^53 (order-free in double); the only cross-engine surfaces left
  * are libm ln/exp ulps under the harness round(6) — measure-zero on
  * these continuous statistics. Division spellings keep one operand
  * double before any `/` (the `agg_newey_west` decimal-literal
  * lesson).
  */
object Analytics41 {

  // ---------------------------------------------------------------------
  // agg_kruskal_wallis
  // ---------------------------------------------------------------------

  /** H = 12/(N(N+1)) · Σᵢ Rᵢ²/nᵢ − 3(N+1), corrected by
    * 1 − Σ(t³−t)/(N³−N). Mid-ranks per distinct value =
    * cum-before + (cnt+1)/2 — exact halves; per-group rank sums are
    * therefore exact in double and order-free. The Σᵢ Rᵢ²/nᵢ term is
    * pinned to DECIMAL(38,6) (k summands, but why leave it to
    * accumulation order). The distinct-value window is
    * single-partition over the VALUE census, not the rows. */
  private def kwSql(events: String): String =
    s"""v AS (SELECT event_type, CAST(value AS DOUBLE) AS x
       |      FROM $events),
       |c AS (SELECT x, CAST(count(*) AS BIGINT) AS cnt
       |      FROM v GROUP BY x),
       |rk AS (SELECT x, cnt,
       |        CAST(2 * coalesce(sum(cnt) OVER (ORDER BY x
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |            0) + cnt + 1 AS DOUBLE) / 2.0 AS mid
       |      FROM c),
       |g AS (SELECT event_type, x, CAST(count(*) AS BIGINT) AS gcnt
       |      FROM v GROUP BY 1, 2),
       |gr AS (SELECT g.event_type,
       |        CAST(sum(g.gcnt) AS BIGINT) AS n_i,
       |        sum(CAST(g.gcnt AS DOUBLE) * rk.mid) AS rsum
       |      FROM g JOIN rk ON rk.x = g.x GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
       |tie AS (SELECT CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT)
       |          AS tsum FROM c),
       |agg AS (SELECT CAST(count(*) AS BIGINT) AS k,
       |        CAST(sum(CAST(rsum * rsum / CAST(n_i AS DOUBLE)
       |                      AS DECIMAL(38,6))) AS DOUBLE) AS rr
       |      FROM gr)
       |SELECT agg.k - 1 AS dof, tot.n AS n,
       |  12.0 * agg.rr / (CAST(tot.n AS DOUBLE) * (tot.n + 1))
       |    - 3.0 * (tot.n + 1) AS h,
       |  (12.0 * agg.rr / (CAST(tot.n AS DOUBLE) * (tot.n + 1))
       |    - 3.0 * (tot.n + 1))
       |  / (1.0 - CAST(tie.tsum AS DOUBLE)
       |           / (CAST(tot.n AS DOUBLE) * tot.n * tot.n - tot.n))
       |    AS h_corrected
       |FROM agg CROSS JOIN tot CROSS JOIN tie""".stripMargin

  // ---------------------------------------------------------------------
  // agg_g_test
  // ---------------------------------------------------------------------

  /** G = 2·Σ O·ln(O/E) over the `agg_chi2` contingency (documents
    * lang × source); zero cells contribute 0 (the lim x→0 x·ln x
    * convention) so the LEFT JOIN's missing cells drop out. */
  private def gTestSql(table: String): String =
    s"""c AS (SELECT lang, source, CAST(count(*) AS DOUBLE) AS o
       |      FROM $table GROUP BY 1, 2),
       |r AS (SELECT lang, sum(o) AS rt FROM c GROUP BY 1),
       |cl AS (SELECT source, sum(o) AS ct FROM c GROUP BY 1),
       |tot AS (SELECT sum(o) AS n FROM c),
       |grid AS (SELECT r.lang, cl.source, r.rt, cl.ct
       |         FROM r CROSS JOIN cl)
       |SELECT
       |  2.0 * sum(CASE WHEN coalesce(c.o, 0.0) > 0.0
       |    THEN c.o * ln(c.o / (g.rt * g.ct / t.n))
       |    ELSE 0.0 END) AS g_stat,
       |  CAST(((SELECT count(*) FROM r) - 1)
       |       * ((SELECT count(*) FROM cl) - 1) AS BIGINT) AS dof,
       |  CAST((SELECT n FROM tot) AS BIGINT) AS n
       |FROM grid g CROSS JOIN tot t
       |  LEFT JOIN c ON c.lang = g.lang AND c.source = g.source""".stripMargin

  // ---------------------------------------------------------------------
  // agg_odds_ratio
  // ---------------------------------------------------------------------

  /** 2×2 on lineitem: returned (l_returnflag = 'R') × deep discount
    * (l_discount > 0.05, exact decimal compare). OR = ad/bc as an
    * IEEE quotient of exact integer counts; Woolf CI on the log
    * scale. One map-side-combinable pass over the scan. */
  private def oddsSql(lineitem: String): String =
    s"""c AS (SELECT
       |  CAST(sum(CASE WHEN l_returnflag = 'R' AND l_discount > 0.05
       |                THEN 1 ELSE 0 END) AS BIGINT) AS a,
       |  CAST(sum(CASE WHEN l_returnflag = 'R' AND l_discount <= 0.05
       |                THEN 1 ELSE 0 END) AS BIGINT) AS b,
       |  CAST(sum(CASE WHEN l_returnflag <> 'R' AND l_discount > 0.05
       |                THEN 1 ELSE 0 END) AS BIGINT) AS cc,
       |  CAST(sum(CASE WHEN l_returnflag <> 'R' AND l_discount <= 0.05
       |                THEN 1 ELSE 0 END) AS BIGINT) AS d
       |  FROM $lineitem)
       |SELECT a, b, cc AS c, d,
       |  CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * cc) AS odds_ratio,
       |  exp(ln(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * cc))
       |      - 1.96 * sqrt(CAST(1 AS DOUBLE)/a + CAST(1 AS DOUBLE)/b
       |                    + CAST(1 AS DOUBLE)/cc + CAST(1 AS DOUBLE)/d))
       |    AS ci_lo,
       |  exp(ln(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * cc))
       |      + 1.96 * sqrt(CAST(1 AS DOUBLE)/a + CAST(1 AS DOUBLE)/b
       |                    + CAST(1 AS DOUBLE)/cc + CAST(1 AS DOUBLE)/d))
       |    AS ci_hi
       |FROM c""".stripMargin

  // ---------------------------------------------------------------------
  // agg_fisher_exact
  // ---------------------------------------------------------------------

  /** Shared statement body AFTER the engine-specific integer series
    * `idx(i)` for i ∈ 1..n is in scope. lnfact(j) = Σ_{i≤j} ln i,
    * accumulated in DECIMAL(38,18); right-tail p = Σ_{k≥a} P(k) with
    * P(k) = exp(lnC(r1,k) + lnC(r2,c1−k) − lnC(n,c1)), summed in
    * DECIMAL(38,18). k ranges over the support [max(0,c1−r2),
    * min(r1,c1)]; the WHERE keeps only the observed-and-above part. */
  private def fisherBody: String =
    s"""lf AS (SELECT i,
       |        CAST(sum(CAST(ln(CAST(i AS DOUBLE)) AS DECIMAL(38,18)))
       |             OVER (ORDER BY i) AS DOUBLE) AS f
       |      FROM idx),
       |lf0 AS (SELECT CAST(0 AS BIGINT) AS i, CAST(0.0 AS DOUBLE) AS f
       |        UNION ALL SELECT i, f FROM lf),
       |ks AS (SELECT i.i AS k, m.a, m.r1, m.r2, m.c1, m.n
       |       FROM lf0 i CROSS JOIN m
       |       WHERE i.i >= greatest(m.a, m.c1 - m.r2)
       |         AND i.i <= least(m.r1, m.c1)),
       |p AS (SELECT ks.k, ks.a, ks.r1, ks.r2, ks.c1, ks.n,
       |        exp(fr1.f - fk.f - fr1k.f
       |            + fr2.f - fc1k.f - fr2c1k.f
       |            - (fn.f - fc1.f - fnc1.f)) AS pk
       |      FROM ks
       |        JOIN lf0 fr1   ON fr1.i   = ks.r1
       |        JOIN lf0 fk    ON fk.i    = ks.k
       |        JOIN lf0 fr1k  ON fr1k.i  = ks.r1 - ks.k
       |        JOIN lf0 fr2   ON fr2.i   = ks.r2
       |        JOIN lf0 fc1k  ON fc1k.i  = ks.c1 - ks.k
       |        JOIN lf0 fr2c1k ON fr2c1k.i = ks.r2 - ks.c1 + ks.k
       |        JOIN lf0 fn    ON fn.i    = ks.n
       |        JOIN lf0 fc1   ON fc1.i   = ks.c1
       |        JOIN lf0 fnc1  ON fnc1.i  = ks.n - ks.c1)
       |SELECT max(a) AS a, max(r1) AS r1, max(c1) AS c1, max(n) AS n,
       |  CAST(max(CASE WHEN k = a THEN pk END) AS DOUBLE) AS p_obs,
       |  CAST(sum(CAST(pk AS DECIMAL(38,18))) AS DOUBLE) AS p_right
       |FROM p""".stripMargin

  /** The 2×2 margins CTE over supplier (identical both engines). */
  private def fisherMargins(supplier: String): String =
    s"""m AS (SELECT
       |  CAST(sum(CASE WHEN s_acctbal > 4500 AND s_nationkey < 12
       |                THEN 1 ELSE 0 END) AS BIGINT) AS a,
       |  CAST(sum(CASE WHEN s_acctbal > 4500
       |                THEN 1 ELSE 0 END) AS BIGINT) AS r1,
       |  CAST(sum(CASE WHEN s_acctbal <= 4500
       |                THEN 1 ELSE 0 END) AS BIGINT) AS r2,
       |  CAST(sum(CASE WHEN s_nationkey < 12
       |                THEN 1 ELSE 0 END) AS BIGINT) AS c1,
       |  CAST(count(*) AS BIGINT) AS n
       |  FROM $supplier)""".stripMargin

  def aggFisherExact(s: SparkSession, dir: String): DataFrame = {
    Tables.sql(s, dir, "WITH " + fisherMargins("supplier") + ",\n" +
      "idx AS (SELECT explode(sequence(1L, m.n)) AS i FROM m),\n" +
      fisherBody)
  }

  private def fisherOracleSql: String =
    "WITH " + fisherMargins("supplier") + ",\n" +
      """idx AS (SELECT CAST(unnest(generate_series(1, CAST(m.n AS BIGINT)))
        |             AS BIGINT) AS i FROM m),
        |""".stripMargin + fisherBody

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef.sql("agg_kruskal_wallis", "WITH " + kwSql("events")),
    QueryDef.sql("agg_g_test", "WITH " + gTestSql("documents")),
    QueryDef.sql("agg_odds_ratio", "WITH " + oddsSql("lineitem")),
    QueryDef("agg_fisher_exact", aggFisherExact, fisherOracleSql))
}
