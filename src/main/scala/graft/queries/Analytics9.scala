package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.QueryDef
import graft.core.Tables
import graft.core.CkptTap._

/** Round-9 widening, final batch: the global clustering coefficient
  * of the nation trade graph (the triad-closure companion to
  * [[Analytics4.graphTriangles]]) and a Jarque-Bera normality test of
  * the daily revenue series.
  *
  * Determinism: triangle and triad counts are integer (d(d−1)/2 is
  * integer-valued, so its double division is exact); Jarque-Bera's
  * raw moments ride DECIMAL(25,10) over a /1e6-rescaled series whose
  * unscaled power sums fit 2^53 — both engines' decimal→double casts
  * are exact (the win_sharpe scale rule) — and the central-moment
  * algebra is one fixed textual expression tree. */
object Analytics9 {

  /** Global clustering coefficient C = 3·triangles / triads over the
    * thresholded nation-pair trade graph (same 1.15×-mean edge rule as
    * graph_triangles). The heavy distributed pass (4-table star join →
    * pair flows) runs once and is checkpointed; the census — degrees,
    * triads Σd(d−1)/2, the a<b<c triangle join — runs on the
    * ≤|nations|² relation. */
  def graphClustering(s: SparkSession, dir: String): DataFrame = {
    val und = Tables.sql(s, dir,
      """SELECT least(na, nb) AS a, greatest(na, nb) AS b, sum(cnt) AS cnt
        |FROM (SELECT c.c_nationkey AS na, s.s_nationkey AS nb, count(*) AS cnt
        |      FROM lineitem l
        |        JOIN orders o ON l.l_orderkey = o.o_orderkey
        |        JOIN customer c ON o.o_custkey = c.c_custkey
        |        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |      WHERE c.c_nationkey <> s.s_nationkey
        |      GROUP BY 1, 2)
        |GROUP BY 1, 2""".stripMargin)
      .tappedLocalCheckpoint()
    Tables.sql(s, dir, "WITH " + clusteringCensus("graft_cl_und"), "graft_cl_und" -> und)
  }

  private def clusteringCensus(und: String): String =
    s"""tot AS (SELECT sum(cnt) AS t, count(*) AS np FROM $und),
       |edges AS (SELECT a, b FROM $und CROSS JOIN tot
       |          WHERE cnt * np * 100 > 115 * t),
       |deg AS (SELECT nk, count(*) AS d
       |        FROM (SELECT a AS nk FROM edges
       |              UNION ALL SELECT b FROM edges)
       |        GROUP BY nk),
       |tri AS (SELECT e1.a, e1.b, e2.b AS c
       |        FROM edges e1 JOIN edges e2 ON e2.a = e1.b
       |          JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b),
       |agg AS (SELECT
       |  (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
       |  (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
       |  (SELECT CAST(count(*) AS BIGINT) FROM tri) AS n_triangles,
       |  -- d(d-1)/2 is integer-valued, so the double division and the
       |  -- small sum are exact on both engines
       |  (SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) FROM deg) AS n_triads)
       |SELECT n_nodes, n_edges, n_triangles, n_triads,
       |       -- CAST: Spark parses a bare 3.0 as DECIMAL(2,1), which
       |       -- would propagate a decimal output column
       |       CASE WHEN n_triads = 0 THEN CAST(0.0 AS DOUBLE)
       |            ELSE CAST(3.0 AS DOUBLE) * n_triangles / n_triads
       |       END AS clustering_coeff
       |FROM agg""".stripMargin

  private def jbSql(table: String): String =
    s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
       |    CAST(sum(CAST(o_totalprice AS DECIMAL(18, 2))) AS DOUBLE)
       |      / 1000000.0 AS y
       |  FROM $table GROUP BY 1),
       |m AS (SELECT count(*) AS n,
       |    CAST(sum(CAST(y AS DECIMAL(18, 8))) AS DOUBLE) AS s1,
       |    CAST(sum(CAST(y * y AS DECIMAL(25, 10))) AS DOUBLE) AS s2,
       |    CAST(sum(CAST(y * y * y AS DECIMAL(25, 10))) AS DOUBLE) AS s3,
       |    CAST(sum(CAST(y * y * y * y AS DECIMAL(25, 10))) AS DOUBLE) AS s4
       |  FROM daily),
       |c AS (SELECT n, s1 / n AS mu, s2 / n AS r2, s3 / n AS r3,
       |             s4 / n AS r4 FROM m),
       |k AS (SELECT n, mu,
       |    r2 - mu * mu AS m2,
       |    r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
       |    r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2
       |       - 3.0 * mu * mu * mu * mu AS m4
       |  FROM c),
       |z AS (SELECT n, m3 / power(m2, 1.5) AS skewness,
       |             m4 / (m2 * m2) - 3.0 AS kurtosis_ex FROM k)
       |SELECT CAST(n AS BIGINT) AS n_days, skewness, kurtosis_ex,
       |       n / 6.0 * (skewness * skewness
       |                  + kurtosis_ex * kurtosis_ex / 4.0) AS jb_stat
       |FROM z""".stripMargin

  /** Burstiness coefficient B = (σ−μ)/(σ+μ) (Goh & Barabási 2008) of
    * the inter-arrival gaps per event type, over the same
    * (user, type)-keyed gaps as [[Analytics6.eventsInterarrival]]:
    * B→−1 periodic, B→0 Poisson, B→1 bursty. Gaps stay integer
    * microseconds; Σg is BIGINT-exact and Σg² rides DECIMAL(38,0)
    * (g² alone can exceed int64 — Spark's non-ANSI bigint sum would
    * wrap SILENTLY); the only floating steps are the final
    * mean/variance divisions. */
  def eventsBurstiness(s: SparkSession, dir: String): DataFrame = {
    Tables.sql(s, dir, burstSql("events", "unix_micros(ts)"))
  }

  private def burstSql(table: String, epochUs: String): String =
    s"""WITH g AS (SELECT event_type,
       |    $epochUs - lag($epochUs) OVER (PARTITION BY user_id, event_type
       |                                   ORDER BY $epochUs, event_id) AS gap
       |  FROM $table),
       |st AS (SELECT event_type, count(*) AS n, sum(gap) AS s1,
       |         sum(CAST(gap AS DECIMAL(20, 0)) * gap) AS s2
       |       FROM g WHERE gap IS NOT NULL GROUP BY event_type),
       |d AS (SELECT event_type, n,
       |        CAST(s1 AS DOUBLE) / n / 1000000.0 AS mean_s,
       |        sqrt(greatest((CAST(s2 AS DOUBLE)
       |                       - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1), 0.0))
       |          / 1000000.0 AS std_s
       |      FROM st)
       |SELECT event_type, CAST(n AS BIGINT) AS n_gaps, mean_s, std_s,
       |       (std_s - mean_s) / (std_s + mean_s) AS burstiness
       |FROM d""".stripMargin

  val queries: Seq[QueryDef] = Seq(
    QueryDef("graph_clustering", graphClustering,
      """WITH pairs AS MATERIALIZED (
         |  SELECT c.c_nationkey AS na, s.s_nationkey AS nb, count(*) AS cnt
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |    JOIN customer c ON o.o_custkey = c.c_custkey
         |    JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  WHERE c.c_nationkey <> s.s_nationkey
         |  GROUP BY 1, 2),
         |und AS MATERIALIZED (SELECT least(na, nb) AS a, greatest(na, nb) AS b,
         |               sum(cnt) AS cnt
         |        FROM pairs GROUP BY 1, 2),
         |""".stripMargin +
        clusteringCensus("und")
          .replaceFirst("edges AS \\(", "edges AS MATERIALIZED (")),
    // Jarque-Bera normality test of daily revenue: skewness, excess
    // kurtosis, and JB = n/6·(S² + K²/4) from exact decimal raw
    // moments of the /1e6-rescaled daily series. One distributed
    // daily aggregation; the moment algebra is scalar.
    QueryDef.sql("agg_jarque_bera", jbSql("orders")),
    QueryDef("events_burstiness", eventsBurstiness,
      burstSql("events", "epoch_us(ts)")))
}
