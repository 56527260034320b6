package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryDef
import graft.core.Tables

/** Round-11 batch AC: outlier/threshold primitives for curation and
  * scoring pipelines.
  *
  *  - `llm_embed_outlier` — embedding-space quality filter: corpus
  *    centroid from exact DECIMAL(20,8) per-dimension means (the
  *    `llm_ann_ivf` recipe), cosine of every vector to it, bottom-10
  *    emitted — the "far-from-the-manifold" cut an embedding-based
  *    curation pass applies before training. Centroid is
  *    broadcast-sized; the corpus never shuffles.
  *  - `agg_mahalanobis` — 2-D Mahalanobis outliers on lineitem
  *    (quantity, discount): closed-form 2×2 inverse covariance from
  *    exact decimal moments, top-10 distances with pinned tie order.
  *  - `agg_youden` — optimal classification threshold by Youden's J
  *    over the same (value, error-label) scoring relation as
  *    `agg_auc_roc`: TPR/FPR from suffix sums over the distinct-value
  *    census, argmax pinned by (J desc, threshold).
  */
object Analytics48 {

  // ---------------------------------------------------------------------
  // llm_embed_outlier
  // ---------------------------------------------------------------------

  private def dcos(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      // native codegen dot (same left-to-right fold as the HOF form,
      // bit-identical; see plans.DotProductDouble) — the HOF spelling
      // is CodegenFallback and allocates lambda frames per element
      call_function("dot_product_d",
        x.cast("array<double>"), y.cast("array<double>"))
    dot(a, b) / sqrt(dot(a, a) * dot(b, b))
  }

  def llmEmbedOutlier(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
    val flat = e.select(posexplode(col("embedding")).as(Seq("pos", "v")))
    val cent = flat.groupBy("pos")
      .agg((sum(col("v").cast(DecimalType(20, 8))).cast("double")
        / count(lit(1))).as("c"))
      .agg(array_sort(collect_list(struct(col("pos"), col("c"))))
        .as("pc"))
      .select(expr("transform(pc, x -> x.c)").as("centroid"))
    val sims = e.crossJoin(broadcast(cent))
      .select(col("vec_id"),
        dcos(col("embedding").cast("array<double>"), col("centroid"))
          .as("sim"))
    val low = sims.orderBy(col("sim").asc, col("vec_id")).limit(10)
    low.withColumn("rnk",
        row_number().over(Window.orderBy(col("sim").asc, col("vec_id")))
          .cast("long"))
      .select(col("rnk"), col("vec_id"), round(col("sim"), 4).as("sim"))
  }

  private val embedOutlierOracleSql: String =
    """WITH flat AS (SELECT generate_subscripts(embedding, 1) AS pos,
      |               unnest(embedding) AS v FROM embeddings),
      |cent AS (SELECT pos,
      |           CAST(SUM(CAST(v AS DECIMAL(20,8))) AS DOUBLE)
      |             / COUNT(*) AS c
      |         FROM flat GROUP BY pos),
      |ca AS (SELECT list(c ORDER BY pos) AS centroid FROM cent),
      |sims AS (SELECT vec_id,
      |           list_inner_product(CAST(embedding AS DOUBLE[]), centroid)
      |           / sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
      |                                     CAST(embedding AS DOUBLE[]))
      |                  * list_inner_product(centroid, centroid)) AS sim
      |         FROM embeddings CROSS JOIN ca),
      |low AS (SELECT vec_id, sim,
      |          row_number() OVER (ORDER BY sim, vec_id) AS rnk
      |        FROM sims)
      |SELECT CAST(rnk AS BIGINT) AS rnk, vec_id, ROUND(sim, 4) AS sim
      |FROM low WHERE rnk <= 10""".stripMargin

  // ---------------------------------------------------------------------
  // agg_mahalanobis
  // ---------------------------------------------------------------------

  /** x1 = quantity, x2 = discount (both exact decimals). d²(x) =
    * (x−μ)ᵀ Σ⁻¹ (x−μ) with the 2×2 inverse in closed form; Σ from
    * population-normalized central moments. Every d² is an identical
    * IEEE expression of exact inputs on both engines, so the global
    * top-10 (tie-broken by order key, line number) is pinned. */
  private def mahaSql(lineitem: String): String =
    s"""v AS (SELECT l_orderkey, l_linenumber,
       |        CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) AS x1,
       |        CAST(CAST(l_discount AS DECIMAL(18,2)) AS DOUBLE) AS x2
       |      FROM $lineitem),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |        CAST(sum(CAST(x1 AS DECIMAL(38,6))) AS DOUBLE) AS s1,
       |        CAST(sum(CAST(x2 AS DECIMAL(38,6))) AS DOUBLE) AS s2,
       |        CAST(sum(CAST(x1 * x1 AS DECIMAL(38,6))) AS DOUBLE) AS s11,
       |        CAST(sum(CAST(x2 * x2 AS DECIMAL(38,6))) AS DOUBLE) AS s22,
       |        CAST(sum(CAST(x1 * x2 AS DECIMAL(38,6))) AS DOUBLE) AS s12
       |      FROM v),
       |c AS (SELECT n, s1 / n AS m1, s2 / n AS m2,
       |        (s11 - s1 * s1 / n) / n AS c11,
       |        (s22 - s2 * s2 / n) / n AS c22,
       |        (s12 - s1 * s2 / n) / n AS c12
       |      FROM m),
       |d AS (SELECT v.l_orderkey, v.l_linenumber,
       |        ((v.x1 - c.m1) * (c.c22 * (v.x1 - c.m1)
       |                          - c.c12 * (v.x2 - c.m2))
       |         + (v.x2 - c.m2) * (c.c11 * (v.x2 - c.m2)
       |                            - c.c12 * (v.x1 - c.m1)))
       |        / (c.c11 * c.c22 - c.c12 * c.c12) AS d2
       |      FROM v CROSS JOIN c),
       |r AS (SELECT l_orderkey, l_linenumber, d2,
       |        row_number() OVER (ORDER BY d2 DESC, l_orderkey,
       |                           l_linenumber) AS rnk
       |      FROM d)
       |SELECT CAST(rnk AS BIGINT) AS rnk, l_orderkey, l_linenumber, d2
       |FROM r WHERE rnk <= 10""".stripMargin

  // ---------------------------------------------------------------------
  // agg_youden
  // ---------------------------------------------------------------------

  /** Predict positive when value > t; TPR/FPR at every distinct value
    * from suffix sums over the census (exact integers). J = TPR−FPR,
    * argmax by (J desc, t asc). */
  private def youdenSql(events: String): String =
    s"""e AS (SELECT CAST(value AS DECIMAL(18,2)) AS v,
       |        CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y
       |      FROM $events),
       |c AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt,
       |        CAST(sum(y) AS BIGINT) AS pos
       |      FROM e GROUP BY v),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
       |          CAST(sum(pos) AS BIGINT) AS p FROM c),
       |sf AS (SELECT v,
       |        CAST(sum(cnt) OVER (ORDER BY v DESC) - cnt AS BIGINT)
       |          AS n_above,
       |        CAST(sum(pos) OVER (ORDER BY v DESC) - pos AS BIGINT)
       |          AS p_above
       |      FROM c),
       |j AS (SELECT sf.v,
       |        CAST(sf.p_above AS DOUBLE) / tot.p AS tpr,
       |        CAST(sf.n_above - sf.p_above AS DOUBLE) / (tot.n - tot.p)
       |          AS fpr,
       |        CAST(sf.p_above AS DOUBLE) / tot.p
       |          - CAST(sf.n_above - sf.p_above AS DOUBLE)
       |            / (tot.n - tot.p) AS youden_j
       |      FROM sf CROSS JOIN tot),
       |best AS (SELECT v, tpr, fpr, youden_j,
       |          row_number() OVER (ORDER BY youden_j DESC, v) AS rn
       |        FROM j)
       |SELECT CAST(v AS DOUBLE) AS threshold, tpr, fpr, youden_j
       |FROM best WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("llm_embed_outlier", llmEmbedOutlier, embedOutlierOracleSql),
    QueryDef.sql("agg_mahalanobis", "WITH " + mahaSql("lineitem")),
    QueryDef.sql("agg_youden", "WITH " + youdenSql("events")))
}
