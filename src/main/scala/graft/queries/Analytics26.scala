package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables
import graft.core.CkptTap._

/** Round-11 batch F: path-census centrality and wavelet energy.
  *
  *  - `graph_betweenness` — shortest-path betweenness (Freeman /
  *    Brandes' σ-ratio definition) over the thresholded trade graph,
  *    ≤4-hop horizon (the `graph_closeness` truncation convention),
  *    by explicit shortest-path enumeration — exact on the bounded
  *    graph, with per-pair σ-ratios rounded onto a 9-dp decimal
  *    lattice so the cross-pair sum is engine-exact.
  *  - `win_haar` — Haar wavelet energy decomposition of the daily
  *    revenue series in 8-day blocks: approximation mean plus the
  *    absolute detail energy at three dyadic levels, all decimal-exact
  *    until one final division per coefficient.
  *
  * Determinism rules as in [[Analytics]].
  */
object Analytics26 {

  // ---------------------------------------------------------------------
  // graph_betweenness
  // ---------------------------------------------------------------------

  /** Betweenness by explicit enumeration: every ≤4-hop walk is
    * expanded with its interior-node list; a walk whose length equals
    * dist(s,t) is necessarily simple, and those walks are EXACTLY the
    * shortest paths — so σ_st is their count and σ_st(v) the count
    * containing v in the interior. b(v) = Σ σ_st(v)/σ_st over ordered
    * pairs, halved for the undirected double-count. The fan-out is
    * bounded by |V|·deg⁴ on the ≤|nations|² graph (the same bounded-
    * relation contract as the other graph queries — at web scale one
    * runs Brandes' dependency accumulation instead; the σ-ratio
    * DEFINITION graded here is identical). Each pair's ratio is
    * rounded to 9 dp and summed as DECIMAL — the cross-pair sum order
    * can therefore never flip a 6-dp graded digit. */
  def graphBetweenness(s: SparkSession, dir: String): DataFrame = {
    val sym = Analytics10.tradeSym(s, dir)
    var frontier = sym.select(col("src").as("s"), col("dst").as("t"),
      lit(1).as("len"), array().cast("array<int>").as("via"))
    var walks = frontier
    for (k <- 2 to 4) {
      frontier = frontier.alias("w")
        .join(sym.alias("e"), col("w.t") === col("e.src"))
        .filter(col("e.dst") =!= col("w.s"))
        .select(col("w.s").as("s"), col("e.dst").as("t"),
          lit(k).as("len"), concat(col("w.via"), array(col("w.t"))).as("via"))
      walks = walks.union(frontier)
    }
    val dist = walks.groupBy("s", "t").agg(min("len").as("d"))
    val sp = walks.join(dist, Seq("s", "t"))
      .filter(col("len") === col("d") && col("s") =!= col("t"))
      .tappedLocalCheckpoint()
    val sigma = sp.groupBy("s", "t").agg(count(lit(1)).as("sig"))
    val through = sp.select(col("s"), col("t"), explode(col("via")).as("v"))
      .groupBy("s", "t", "v").agg(count(lit(1)).as("sigv"))
    through.join(sigma, Seq("s", "t"))
      .select(col("v"),
        round(col("sigv").cast("double") / col("sig"), 9)
          .cast("decimal(12,9)").as("contrib"))
      .groupBy("v")
      .agg(round(sum("contrib").cast("double") / 2, 6).as("betweenness"),
        count(lit(1)).as("n_pairs"))
      .select(col("v").cast("long").as("nk"), col("betweenness"),
        col("n_pairs"))
  }

  // ---------------------------------------------------------------------
  // win_haar
  // ---------------------------------------------------------------------

  /** Shared dialect text (`intdiv` = Spark `DIV` / DuckDB `//`):
    * 8-day blocks of the daily DECIMAL(18,2) revenue series; per
    * block the approximation mean a3 and the summed |detail|
    * energies at pair (e1), quad (e2) and block (e3) scale. Every
    * signed sum and abs is exact decimal; each coefficient performs
    * exactly ONE double division at the end (identical IEEE op both
    * engines). */
  private def haarSql(orders: String, intdiv: String): String =
    s"""drev AS (SELECT o_orderdate AS d,
       |           SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
       |         FROM $orders GROUP BY o_orderdate),
       |idx AS (SELECT CAST(rev AS DECIMAL(18,2)) AS rev,
       |          CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i
       |        FROM drev),
       |n8 AS (SELECT (COUNT(*) $intdiv 8) * 8 AS n FROM idx),
       |x AS (SELECT i, rev, (i - 1) $intdiv 8 AS b, (i - 1) % 8 AS j
       |      FROM idx CROSS JOIN n8 WHERE i <= n),
       |p1 AS (SELECT b, j $intdiv 2 AS k,
       |         SUM(CASE WHEN j % 2 = 0 THEN rev ELSE -rev END) AS dsum
       |       FROM x GROUP BY b, j $intdiv 2),
       |p2 AS (SELECT b, j $intdiv 4 AS k,
       |         SUM(CASE WHEN j % 4 < 2 THEN rev ELSE -rev END) AS dsum
       |       FROM x GROUP BY b, j $intdiv 4),
       |p3 AS (SELECT b,
       |         SUM(CASE WHEN j % 8 < 4 THEN rev ELSE -rev END) AS dsum
       |       FROM x GROUP BY b),
       |a AS (SELECT b, SUM(rev) AS tot FROM x GROUP BY b),
       |e1 AS (SELECT b, SUM(ABS(dsum)) AS s FROM p1 GROUP BY b),
       |e2 AS (SELECT b, SUM(ABS(dsum)) AS s FROM p2 GROUP BY b)
       |SELECT a.b AS block, CAST(a.tot AS DOUBLE) / 8 AS a3,
       |  CAST(e1.s AS DOUBLE) / 2 AS e1,
       |  CAST(e2.s AS DOUBLE) / 4 AS e2,
       |  CAST(ABS(p3.dsum) AS DOUBLE) / 8 AS e3
       |FROM a JOIN e1 ON e1.b = a.b JOIN e2 ON e2.b = a.b
       |  JOIN p3 ON p3.b = a.b""".stripMargin

  def winHaar(s: SparkSession, dir: String): DataFrame = {
    Tables.sql(s, dir, "WITH " + haarSql("orders", "DIV"))
  }

  val queries: Seq[QueryDef] = Seq(
    // sym and every multi-referenced walk CTE are MATERIALIZED: DuckDB
    // otherwise re-inlines the 4-table star join once per reference
    // (the r9 triangles-oracle OOM, same cure).
    QueryDef("graph_betweenness", graphBetweenness,
      s"""WITH ${Analytics11.symCte
             .replace("sym AS (", "sym AS MATERIALIZED (")},
        |w1 AS MATERIALIZED (SELECT src AS s, dst AS t, 1 AS len,
        |         CAST([] AS INTEGER[]) AS via FROM sym),
        |w2 AS MATERIALIZED (SELECT w.s, e.dst AS t, 2 AS len, [w.t] AS via
        |       FROM w1 w JOIN sym e ON e.src = w.t WHERE e.dst <> w.s),
        |w3 AS MATERIALIZED (SELECT w.s, e.dst AS t, 3 AS len,
        |         w.via || [w.t] AS via
        |       FROM w2 w JOIN sym e ON e.src = w.t WHERE e.dst <> w.s),
        |w4 AS MATERIALIZED (SELECT w.s, e.dst AS t, 4 AS len,
        |         w.via || [w.t] AS via
        |       FROM w3 w JOIN sym e ON e.src = w.t WHERE e.dst <> w.s),
        |walks AS MATERIALIZED (SELECT * FROM w1 UNION ALL SELECT * FROM w2
        |          UNION ALL SELECT * FROM w3 UNION ALL SELECT * FROM w4),
        |dist AS (SELECT s, t, MIN(len) AS d FROM walks GROUP BY s, t),
        |sp AS MATERIALIZED (SELECT w.s, w.t, w.via FROM walks w
        |       JOIN dist ON dist.s = w.s AND dist.t = w.t
        |       WHERE w.len = dist.d AND w.s <> w.t),
        |sigma AS (SELECT s, t, COUNT(*) AS sig FROM sp GROUP BY s, t),
        |thr AS (SELECT s, t, v, COUNT(*) AS sigv FROM (
        |          SELECT s, t, UNNEST(via) AS v FROM sp) u
        |        GROUP BY s, t, v),
        |contrib AS (SELECT thr.v,
        |              CAST(ROUND(CAST(thr.sigv AS DOUBLE) / sigma.sig, 9)
        |                   AS DECIMAL(12,9)) AS c
        |            FROM thr JOIN sigma
        |              ON sigma.s = thr.s AND sigma.t = thr.t)
        |SELECT CAST(v AS BIGINT) AS nk,
        |  ROUND(CAST(SUM(c) AS DOUBLE) / 2, 6) AS betweenness,
        |  COUNT(*) AS n_pairs
        |FROM contrib GROUP BY v""".stripMargin),
    QueryDef("win_haar", winHaar, "WITH " + haarSql("orders", "//")))
}
