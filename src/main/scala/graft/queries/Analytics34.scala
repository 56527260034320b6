package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables
import graft.plans.GraftFunctions
import graft.core.CkptTap._

/** Round-11 batch N: ML-ops drift monitoring, the write-audit-publish
  * warehouse protocol, diversity re-ranking, and symbolic series
  * compression.
  *
  *  - `etl_psi_drift` — Population Stability Index between pre- and
  *    post-midpoint event-value distributions over 10 fixed-width
  *    bins with Laplace smoothing — the drift gate every production
  *    scoring pipeline runs before trusting a model's inputs.
  *  - `etl_write_audit_publish` — the WAP protocol over the row-level
  *    DSv2 catalog: load into a staging table, run an audit suite
  *    (completeness / non-negativity / key uniqueness) AS SQL, and
  *    publish through a scalar-subquery gate so not one row moves
  *    unless every audit passes.
  *  - `llm_mmr_rerank` — Maximal Marginal Relevance (Carbonell &
  *    Goldstein 1998, λ = 0.7): three unrolled greedy selections
  *    balancing query similarity against redundancy with the
  *    already-selected set; candidates from the LSH bucket, so the
  *    pairwise penalty term never leaves the bucket.
  *  - `win_sax` — Symbolic Aggregate approXimation: 8-observation
  *    PAA over exact decimal segment sums, 4-symbol min-max
  *    alphabet, one SAX word per user.
  */
object Analytics34 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---------------------------------------------------------------------
  // etl_psi_drift
  // ---------------------------------------------------------------------

  /** PSI = Σ (q−p)·ln(q/p) over 10 equal-width bins of the GLOBAL
    * value range (min/max are exact comparisons), pre vs post the
    * integer-midpoint time split, with +1 Laplace smoothing so empty
    * bins stay finite. Every input to the log is a ratio of exact
    * integers; the ≤1-ulp libm drift on ln sits far under the 1e-6
    * gate (the `exp` precedent). */
  private def psiSql(events: String, epochUs: String => String,
      intdiv: String): String =
    s"""e AS (SELECT ${epochUs("ts")} AS us, CAST(value AS DOUBLE) AS v
       |      FROM $events),
       |mid AS (SELECT (MIN(us) + MAX(us)) $intdiv 2 AS m,
       |          MIN(v) AS mn, MAX(v) AS mx FROM e),
       |b AS (SELECT CASE WHEN e.us >= mid.m THEN 1 ELSE 0 END AS post,
       |        least(9, CAST(floor((e.v - mid.mn)
       |          / (mid.mx - mid.mn) * 10.0) AS INT)) AS bin
       |      FROM e CROSS JOIN mid),
       |bins AS (SELECT post, bin, CAST(count(*) AS BIGINT) AS c
       |         FROM b GROUP BY 1, 2),
       |tot AS (SELECT post, CAST(sum(c) AS BIGINT) AS n FROM bins
       |        GROUP BY 1),
       |grid AS (SELECT g.bin,
       |    coalesce(pre.c, 0) AS n_pre, coalesce(post.c, 0) AS n_post,
       |    tp.n AS tot_pre, tq.n AS tot_post
       |  FROM (SELECT DISTINCT bin FROM bins) g
       |    LEFT JOIN bins pre  ON pre.bin  = g.bin AND pre.post  = 0
       |    LEFT JOIN bins post ON post.bin = g.bin AND post.post = 1
       |    CROSS JOIN (SELECT n FROM tot WHERE post = 0) tp
       |    CROSS JOIN (SELECT n FROM tot WHERE post = 1) tq)
       |SELECT CAST(bin AS BIGINT) AS bin, CAST(n_pre AS BIGINT) AS n_pre,
       |  CAST(n_post AS BIGINT) AS n_post,
       |  CAST(n_pre + 1 AS DOUBLE) / (tot_pre + 10) AS p_smooth,
       |  CAST(n_post + 1 AS DOUBLE) / (tot_post + 10) AS q_smooth,
       |  (CAST(n_post + 1 AS DOUBLE) / (tot_post + 10)
       |   - CAST(n_pre + 1 AS DOUBLE) / (tot_pre + 10))
       |  * ln((CAST(n_post + 1 AS DOUBLE) / (tot_post + 10))
       |       / (CAST(n_pre + 1 AS DOUBLE) / (tot_pre + 10)))
       |    AS psi_term
       |FROM grid""".stripMargin

  def etlPsiDrift(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events").createOrReplaceTempView("graft_psi_events")
    s.sql("WITH " + psiSql("graft_psi_events",
      ts => s"unix_micros($ts)", "DIV"))
  }

  // ---------------------------------------------------------------------
  // etl_write_audit_publish
  // ---------------------------------------------------------------------

  /** The WAP cycle. `stagePredicate` narrows the staged load (the
    * graded path stages everything; the spec uses it to break an
    * audit and pin that publication is then EMPTY). The publish gate
    * is a scalar subquery over the audit relation — no driver-side
    * decision, so the same statement shape works when "staging" is an
    * Iceberg branch and "publish" is a snapshot cherry-pick. */
  private[graft] def writeAuditPublish(s: SparkSession, dir: String,
      stagePredicate: Column): DataFrame = {
    s.conf.set("spark.sql.catalog.graft_mem",
      classOf[graft.sources.MemRowCatalog].getName)
    Seq("wap_stage", "wap_pub").foreach(n =>
      s.sql(s"DROP TABLE IF EXISTS graft_mem.db.$n"))
    Seq("wap_stage", "wap_pub").foreach(n =>
      s.sql(s"""CREATE TABLE graft_mem.db.$n
               |  (k BIGINT NOT NULL, n BIGINT,
               |   revenue DECIMAL(18,4))""".stripMargin))
    t(s, dir, "orders").join(t(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .filter(stagePredicate)
      .groupBy(col("c_nationkey").cast("long").as("k"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice")
          .cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast(org.apache.spark.sql.types.DecimalType(18, 4))
          .as("revenue"))
      .createOrReplaceTempView("graft_wap_load")
    s.sql("""INSERT INTO graft_mem.db.wap_stage
            |SELECT * FROM graft_wap_load""".stripMargin)
    s.sql("""CREATE OR REPLACE TEMPORARY VIEW graft_wap_audit AS
            |SELECT 'completeness' AS check_name,
            |  (SELECT count(*) FROM graft_mem.db.wap_stage) = 25 AS ok
            |UNION ALL SELECT 'non_negative',
            |  (SELECT coalesce(min(revenue), 0) >= 0
            |   FROM graft_mem.db.wap_stage)
            |UNION ALL SELECT 'key_unique',
            |  (SELECT count(*) = count(DISTINCT k)
            |   FROM graft_mem.db.wap_stage)""".stripMargin)
    s.sql("""INSERT INTO graft_mem.db.wap_pub
            |SELECT * FROM graft_mem.db.wap_stage
            |WHERE (SELECT min(CASE WHEN ok THEN 1 ELSE 0 END)
            |       FROM graft_wap_audit) = 1""".stripMargin)
    s.sql("""SELECT k AS c_nationkey, n AS n_orders,
            |  CAST(revenue AS DOUBLE) AS revenue,
            |  (SELECT min(CASE WHEN ok THEN 1 ELSE 0 END)
            |   FROM graft_wap_audit) = 1 AS audit_passed
            |FROM graft_mem.db.wap_pub""".stripMargin)
  }

  def etlWriteAuditPublish(s: SparkSession, dir: String): DataFrame =
    writeAuditPublish(s, dir, lit(true))

  // ---------------------------------------------------------------------
  // llm_mmr_rerank
  // ---------------------------------------------------------------------

  /** Sign-bit LSH bucket (the [[LlmVectors]] convention). */
  private def bucket(v: Column): Column =
    (0 until 4).map(j =>
      when(get(v, lit(j)) > 0f, lit(1 << j)).otherwise(lit(0)))
      .reduce(_ + _)

  /** MMR@3 with λ = 0.7 over the query's LSH bucket: pick the most
    * similar candidate, then twice re-score the remainder by
    * 0.7·sim(q,d) − 0.3·max_{s∈selected} sim(d,s) — the diversity
    * re-ranker a retrieval stack runs after ANN recall. All
    * similarities accumulate float inputs in double in index order
    * (bit-identical engines), ties break on vec_id. */
  def llmMmrRerank(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        bucket(col("embedding")).as("bkt"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("bkt").as("q_bkt"))
    val cand = e.join(broadcast(q),
        col("bkt") === col("q_bkt") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("embedding"),
        GraftFunctions.cosineSim(col("q_emb"), col("embedding"))
          .as("sim"))
      .tappedLocalCheckpoint()
    def pick(scored: DataFrame, scoreCol: String): DataFrame = {
      val w = Window.partitionBy("q_id")
        .orderBy(col(scoreCol).desc, col("vec_id"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("q_id"), col("vec_id").as("s_vid"),
          col("embedding").as("s_emb"), col(scoreCol).as("score"))
    }
    val s1 = pick(cand.withColumn("mmr", lit(0.7) * col("sim")), "mmr")
    val c2 = cand.join(s1.select(col("q_id"), col("s_vid").as("v1"),
        col("s_emb").as("e1")), Seq("q_id"))
      .filter(col("vec_id") =!= col("v1"))
      .withColumn("mmr", lit(0.7) * col("sim")
        - lit(0.3) * GraftFunctions.cosineSim(col("embedding"), col("e1")))
    val s2 = pick(c2, "mmr")
    val c3 = c2.join(s2.select(col("q_id"), col("s_vid").as("v2"),
        col("s_emb").as("e2")), Seq("q_id"))
      .filter(col("vec_id") =!= col("v2"))
      .withColumn("mmr3", lit(0.7) * col("sim")
        - lit(0.3) * greatest(
            GraftFunctions.cosineSim(col("embedding"), col("e1")),
            GraftFunctions.cosineSim(col("embedding"), col("e2"))))
    val s3 = pick(c3, "mmr3")
    def out(sel: DataFrame, r: Int): DataFrame =
      sel.select(col("q_id"), lit(r.toLong).as("rnk"),
        col("s_vid").as("vec_id"), col("score").as("mmr_score"))
    out(s1, 1).unionByName(out(s2, 2)).unionByName(out(s3, 3))
  }

  private val mmrOracleSql: String = {
    val cos =
      "list_inner_product(%s, %s) / sqrt(list_inner_product(%s, %s) * list_inner_product(%s, %s))"
    def c(a: String, b: String) = cos.format(a, b, a, a, b, b)
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
       |    + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
       |    + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
       |    + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS bkt
       |  FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv, bkt AS q_bkt FROM e
       |      WHERE vec_id < 10),
       |cand AS (SELECT q.q_id, e.vec_id, e.v,
       |    ${c("q.qv", "e.v")} AS sim
       |  FROM q JOIN e ON e.bkt = q.q_bkt AND e.vec_id <> q.q_id),
       |p1 AS (SELECT q_id, vec_id, v, 0.7 * sim AS score,
       |    ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY 0.7 * sim DESC, vec_id) AS rn
       |  FROM cand),
       |s1 AS (SELECT q_id, vec_id AS v1, v AS e1, score FROM p1
       |       WHERE rn = 1),
       |c2 AS (SELECT cd.q_id, cd.vec_id, cd.v, cd.sim, s1.e1, s1.v1,
       |    0.7 * cd.sim - 0.3 * ${c("cd.v", "s1.e1")} AS mmr
       |  FROM cand cd JOIN s1 ON s1.q_id = cd.q_id
       |  WHERE cd.vec_id <> s1.v1),
       |p2 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY mmr DESC, vec_id) AS rn FROM c2),
       |s2 AS (SELECT q_id, vec_id AS v2, v AS e2, mmr AS score FROM p2
       |       WHERE rn = 1),
       |c3 AS (SELECT c2.q_id, c2.vec_id, c2.sim,
       |    0.7 * c2.sim - 0.3 * greatest(${c("c2.v", "c2.e1")},
       |      ${c("c2.v", "s2.e2")}) AS mmr3
       |  FROM c2 JOIN s2 ON s2.q_id = c2.q_id
       |  WHERE c2.vec_id <> s2.v2),
       |p3 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY mmr3 DESC, vec_id) AS rn FROM c3),
       |s3 AS (SELECT q_id, vec_id AS v3, mmr3 AS score FROM p3
       |       WHERE rn = 1)
       |SELECT q_id, CAST(1 AS BIGINT) AS rnk, v1 AS vec_id,
       |  score AS mmr_score FROM s1
       |UNION ALL SELECT q_id, 2, v2, score FROM s2
       |UNION ALL SELECT q_id, 3, v3, score FROM s3""".stripMargin
  }

  // ---------------------------------------------------------------------
  // win_sax
  // ---------------------------------------------------------------------

  /** SAX per user: 8-observation segments, PAA = exact decimal segment
    * sum / count (one double each), min-max normalized onto a 4-symbol
    * alphabet (floor only sees identically-computed doubles), word =
    * ordered symbol concatenation. The classic shape-index for
    * similarity search over long series — the word is the index key a
    * 100 TB series store would bucket on. */
  private def saxSql(events: String, intdiv: String,
      wordAgg: String): String =
    s"""r AS (SELECT user_id, CAST(value AS DECIMAL(18,4)) AS v,
       |        CAST(value AS DOUBLE) AS vd,
       |        row_number() OVER (PARTITION BY user_id
       |          ORDER BY ts, event_id) AS rn
       |      FROM $events),
       |mm AS (SELECT user_id, min(vd) AS mn, max(vd) AS mx
       |       FROM r GROUP BY 1),
       |seg AS (SELECT user_id, (rn - 1) $intdiv 8 AS seg,
       |          sum(v) AS sv, CAST(count(*) AS BIGINT) AS n
       |        FROM r GROUP BY 1, 2),
       |paa AS (SELECT s.user_id, s.seg, s.n,
       |          CAST(s.sv AS DOUBLE) / s.n AS paa, mm.mn, mm.mx
       |        FROM seg s JOIN mm ON mm.user_id = s.user_id),
       |sym AS (SELECT user_id, seg, n, paa,
       |          CASE WHEN mx > mn THEN least(3,
       |            CAST(floor((paa - mn) / (mx - mn) * 4.0) AS INT))
       |          ELSE 0 END AS sym
       |        FROM paa)
       |SELECT user_id, CAST(count(*) AS BIGINT) AS n_segs,
       |  $wordAgg AS sax_word
       |FROM sym GROUP BY user_id""".stripMargin

  def winSax(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events").createOrReplaceTempView("graft_sax_events")
    s.sql("WITH " + saxSql("graft_sax_events", "DIV",
      "listagg(chr(CAST(97 + sym AS INT)), '') WITHIN GROUP (ORDER BY seg)"))
  }

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("etl_psi_drift", etlPsiDrift, "WITH " + psiSql("events",
      ts => s"epoch_us(CAST($ts AS TIMESTAMP))", "//")),
    QueryDef("etl_write_audit_publish", etlWriteAuditPublish,
      """SELECT CAST(c.c_nationkey AS BIGINT) AS c_nationkey,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,4)))
        |       AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
        |  true AS audit_passed
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1""".stripMargin),
    QueryDef("llm_mmr_rerank", llmMmrRerank, mmrOracleSql),
    QueryDef("win_sax", winSax, "WITH " + saxSql("events", "//",
      "string_agg(chr(CAST(97 + sym AS INT)), '' ORDER BY seg)")))
}
