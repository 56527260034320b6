package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables

/** Round-11 batch AN: the density/distribution curve pair over daily
  * revenue, on one shared 21-point grid spanning μ ± 3σ.
  *
  *  - `agg_kde` — Gaussian kernel density estimate with Silverman's
  *    rule-of-thumb bandwidth h = 1.06·σ·n^(−1/5): f̂(g) =
  *    (1/nh)·Σ φ((g−xᵢ)/h). Per-(grid, day) kernel terms are
  *    identical IEEE expressions; their Σ is DECIMAL(38,18)-pinned.
  *    The grid CROSS JOIN is a broadcast-sized 21-row relation — at
  *    any scale the data side streams once.
  *  - `agg_ecdf` — the exact empirical CDF at the same grid points
  *    (integer counts ≤ g over the day census) — the
  *    no-approximation companion the KDE integrates to.
  */
object Analytics59 {

  private def dailyCte(orders: String, dayIdx: String): String =
    s"""daily AS (
       |  SELECT CAST($dayIdx AS BIGINT) AS x,
       |         CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))))
       |              AS DECIMAL(19,0)) AS y
       |  FROM $orders GROUP BY 1),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |        CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) / count(*)
       |          AS mu,
       |        sqrt((CAST(sum(CAST(y AS DECIMAL(19,0)) * y) AS DOUBLE)
       |              - CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE)
       |                * CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE)
       |                / count(*)) / (count(*) - 1)) AS sd
       |      FROM daily),
       |grid AS (SELECT gj.j,
       |        st.mu - 3.0e0 * st.sd
       |          + CAST(gj.j AS DOUBLE) * (6.0e0 * st.sd / 2.0e1) AS g,
       |        st.n, st.mu, st.sd,
       |        1.06e0 * st.sd
       |          * exp(-ln(CAST(st.n AS DOUBLE)) / 5.0e0) AS h
       |      FROM gj CROSS JOIN st)""".stripMargin

  // ---------------------------------------------------------------------
  // agg_kde
  // ---------------------------------------------------------------------

  private def kdeSql(orders: String, dayIdx: String): String =
    s"""${dailyCte(orders, dayIdx)},
       |terms AS (SELECT gr.j, gr.g, gr.n, gr.h,
       |        exp(-((gr.g - CAST(d.y AS DOUBLE)) / gr.h)
       |            * ((gr.g - CAST(d.y AS DOUBLE)) / gr.h) / 2.0e0)
       |          / 2.5066282746310002e0 AS kv
       |      FROM grid gr CROSS JOIN daily d)
       |SELECT j AS grid_j, max(g) AS g,
       |  CAST(sum(CAST(kv AS DECIMAL(38,18))) AS DOUBLE)
       |    / (CAST(max(n) AS DOUBLE) * max(h)) AS density
       |FROM terms GROUP BY j""".stripMargin

  def aggKde(s: SparkSession, dir: String): DataFrame = {
    Tables.sql(s, dir, "WITH gj AS (SELECT explode(sequence(0L, 20L)) AS j),\n" +
      kdeSql("orders",
        "datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01')"))
  }

  private val kdeOracleSql: String =
    "WITH gj AS (SELECT CAST(unnest(generate_series(0, 20)) AS BIGINT)" +
      " AS j),\n" + kdeSql("orders",
      "datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))")

  // ---------------------------------------------------------------------
  // agg_ecdf
  // ---------------------------------------------------------------------

  private def ecdfSql(orders: String, dayIdx: String): String =
    s"""${dailyCte(orders, dayIdx)}
       |SELECT gr.j AS grid_j, gr.g,
       |  CAST((SELECT count(*) FROM daily d
       |        WHERE CAST(d.y AS DOUBLE) <= gr.g) AS BIGINT) AS n_le,
       |  CAST((SELECT count(*) FROM daily d
       |        WHERE CAST(d.y AS DOUBLE) <= gr.g) AS DOUBLE)
       |    / gr.n AS ecdf
       |FROM grid gr""".stripMargin

  def aggEcdf(s: SparkSession, dir: String): DataFrame = {
    Tables.sql(s, dir, "WITH gj AS (SELECT explode(sequence(0L, 20L)) AS j),\n" +
      ecdfSql("orders",
        "datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01')"))
  }

  private val ecdfOracleSql: String =
    "WITH gj AS (SELECT CAST(unnest(generate_series(0, 20)) AS BIGINT)" +
      " AS j),\n" + ecdfSql("orders",
      "datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))")

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("agg_kde", aggKde, kdeOracleSql),
    QueryDef("agg_ecdf", aggEcdf, ecdfOracleSql))
}
