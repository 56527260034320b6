package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables

/** Round-11 batch G: time-series decomposition and data-constrained
  * mixture scheduling.
  *
  *  - `win_stl_decompose` — classical additive decomposition of the
  *    daily revenue series: centered 7-day moving-average trend,
  *    weekday seasonal means over the detrended series, residual.
  *  - `llm_data_mixture_epochs` — epoch-repeat allocation under a
  *    fixed token budget (the data-constrained scaling recipe of
  *    Muennighoff et al. 2023: repeat small sources up to ~4 epochs,
  *    never beyond).
  *
  * Determinism rules as in [[Analytics]]: the seasonal means ride a
  * 6-dp decimal lattice (a plain double AVG would be accumulation-
  * order-dependent across engines); weekday is an epoch-day modulus,
  * not the engines' differently-anchored DAYOFWEEK.
  */
object Analytics27 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---------------------------------------------------------------------
  // win_stl_decompose
  // ---------------------------------------------------------------------

  /** Shared dialect text (`datediffDays(d)` spells days-since-epoch).
    * Trend exists only where the 7-day window is full (rn 4..n−3);
    * detrended values are rounded onto a 6-dp decimal lattice BEFORE
    * the per-weekday mean so the seasonal component is an exact
    * decimal sum divided once; the residual then subtracts two
    * lattice quantities. One window pass + one bounded-key join —
    * O(days), nothing row-scale after the first aggregation. */
  private def stlCtes(orders: String, datediffDays: String => String): String =
    s"""drev AS (SELECT o_orderdate AS d,
       |           SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
       |         FROM $orders GROUP BY o_orderdate),
       |idx AS (SELECT d, CAST(rev AS DECIMAL(18,2)) AS rev,
       |          CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn,
       |          COUNT(*) OVER () AS n,
       |          CAST(${datediffDays("d")} % 7 AS BIGINT) AS wd
       |        FROM drev),
       |tr AS (SELECT d, rn, n, wd, rev,
       |         CAST(SUM(rev) OVER (ORDER BY rn
       |           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS DOUBLE) / 7
       |           AS trend
       |       FROM idx),
       |dt AS (SELECT d, wd, rev, trend,
       |         CAST(ROUND(CAST(rev AS DOUBLE) - trend, 6)
       |              AS DECIMAL(18,6)) AS detr
       |       FROM tr WHERE rn >= 4 AND rn <= n - 3),
       |seas AS (SELECT wd,
       |           CAST(ROUND(CAST(SUM(detr) AS DOUBLE) / COUNT(*), 6)
       |                AS DECIMAL(18,6)) AS seasonal
       |         FROM dt GROUP BY wd)""".stripMargin

  private def stlSql(orders: String, datediffDays: String => String): String =
    s"""${stlCtes(orders, datediffDays)}
       |SELECT dt.d, CAST(dt.rev AS DOUBLE) AS rev,
       |  ROUND(dt.trend, 6) AS trend,
       |  CAST(seas.seasonal AS DOUBLE) AS seasonal,
       |  CAST(dt.detr - seas.seasonal AS DOUBLE) AS resid
       |FROM dt JOIN seas ON seas.wd = dt.wd""".stripMargin

  def winStlDecompose(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("graft_stl_orders")
    s.sql("WITH " + stlSql("graft_stl_orders",
      d => s"datediff($d, DATE '1970-01-01')"))
  }

  // ---------------------------------------------------------------------
  // win_stl_anomaly
  // ---------------------------------------------------------------------

  /** Residual-based anomaly detection on top of the decomposition:
    * a day is anomalous when |resid| exceeds 3 × MAD of the residual
    * series (the robust control limit — one extreme day cannot widen
    * its own gate the way a σ-based limit would). MAD comes from the
    * engines' interpolated median rounded at 4 dp; the flag compares
    * two lattice-derived doubles identically on both sides. */
  private def stlAnomalySql(orders: String,
      datediffDays: String => String, pctl: String => String): String =
    s"""${stlCtes(orders, datediffDays)},
       |r AS (SELECT dt.d, CAST(dt.rev AS DOUBLE) AS rev,
       |        CAST(dt.detr - seas.seasonal AS DOUBLE) AS resid
       |      FROM dt JOIN seas ON seas.wd = dt.wd),
       |madr AS (SELECT CAST(ROUND(${pctl("ABS(resid)")}, 4) AS DOUBLE)
       |           AS mad FROM r)
       |SELECT r.d, r.rev, ROUND(r.resid, 6) AS resid,
       |  ROUND(r.resid / madr.mad, 4) AS score
       |FROM r CROSS JOIN madr
       |WHERE ABS(r.resid) > 3 * madr.mad""".stripMargin

  def winStlAnomaly(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("graft_stla_orders")
    s.sql("WITH " + stlAnomalySql("graft_stla_orders",
      d => s"datediff($d, DATE '1970-01-01')",
      e => s"percentile($e, 0.5)"))
  }

  // ---------------------------------------------------------------------
  // llm_data_mixture_epochs
  // ---------------------------------------------------------------------

  /** Token budget = 2× the corpus (two effective passes), split
    * uniformly across sources; each source repeats for
    * min(share / tokens, 4) epochs — the 4-epoch cap is where repeated
    * data stops paying (Muennighoff et al.'s value point). All counts
    * are exact integers; epochs and utilization are int-ratio doubles
    * (bit-identical across engines). */
  private def mixtureSql(documents: String): String =
    s"""src AS (SELECT source,
       |          CAST(SUM(LENGTH($documents.text)
       |                   - LENGTH(REPLACE($documents.text, ' ', '')) + 1)
       |               AS BIGINT) AS n_tokens
       |        FROM $documents GROUP BY source),
       |tot AS (SELECT SUM(n_tokens) AS nt,
       |          CAST(COUNT(*) AS BIGINT) AS n_src FROM src)
       |SELECT src.source, src.n_tokens,
       |  LEAST(CAST(2 * tot.nt AS DOUBLE) / tot.n_src / src.n_tokens, 4.0)
       |    AS epochs,
       |  CAST(ROUND(LEAST(CAST(2 * tot.nt AS DOUBLE) / tot.n_src
       |                     / src.n_tokens, 4.0) * src.n_tokens)
       |       AS BIGINT) AS allocated_tokens,
       |  LEAST(CAST(2 * tot.nt AS DOUBLE) / tot.n_src / src.n_tokens, 4.0)
       |    * src.n_tokens / (CAST(2 * tot.nt AS DOUBLE) / tot.n_src)
       |    AS utilization
       |FROM src CROSS JOIN tot""".stripMargin

  def llmDataMixtureEpochs(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "documents").createOrReplaceTempView("graft_mix_docs")
    s.sql("WITH " + mixtureSql("graft_mix_docs"))
  }

  val queries: Seq[QueryDef] = Seq(
    QueryDef("win_stl_decompose", winStlDecompose, "WITH " + stlSql("orders",
      d => s"datediff('day', DATE '1970-01-01', $d)")),
    QueryDef("win_stl_anomaly", winStlAnomaly, "WITH " + stlAnomalySql("orders",
      d => s"datediff('day', DATE '1970-01-01', $d)",
      e => s"quantile_cont($e, 0.5)")),
    QueryDef("llm_data_mixture_epochs", llmDataMixtureEpochs,
      "WITH " + mixtureSql("documents")))
}
