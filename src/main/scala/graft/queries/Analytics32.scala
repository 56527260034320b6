package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables
import graft.plans.GraftFunctions
import graft.core.CkptTap._

/** Round-11 batch L: retrieval-quality evaluation and ranking-model
  * fitting for the LLM-curation surface, plus the GROUP BY ALL SQL
  * spelling.
  *
  *  - `llm_mrl_recall` — Matryoshka-representation evaluation
  *    (Kusupati et al. 2022): recall@3 of truncated-dimension
  *    brute-force search (8/16/32 of 64 dims) against the full-width
  *    ranking — the measurement that justifies serving truncated
  *    embeddings at a fraction of the memory bandwidth.
  *  - `llm_bradley_terry` — Bradley–Terry strength fit over sources
  *    from length-blocked pairwise document comparisons (3 unrolled
  *    minorize-maximize iterations) — the preference-ranking model
  *    behind RLHF reward baselines and arena leaderboards.
  *  - `sql_group_by_all` — the GROUP BY ALL / ORDER BY ALL spelling
  *    (identical text on both engines).
  */
object Analytics32 {

  // ---------------------------------------------------------------------
  // llm_mrl_recall
  // ---------------------------------------------------------------------

  /** Recall@3 of cosine search over the first d ∈ {8,16,32} dimensions
    * vs the full 64-dim exact top-3 ([[LlmVectors.cosineTopk]]'s query
    * protocol: vec_id < 10 as queries, ties on vec_id). Truncated and
    * full similarities both accumulate float inputs in double, in
    * index order — bit-identical across engines, so the ranks (not
    * just the recalls) are oracle-exact. The corpus side is one scan
    * per width against a broadcast query set; at 100 TB each width is
    * the same brute-force baseline sweep `llm_cosine_topk` runs. */
  def llmMrlRecall(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    def top3(width: Option[Int]): DataFrame = {
      def v(c: org.apache.spark.sql.Column) =
        width.map(d => slice(c, 1, d)).getOrElse(c)
      val w = Window.partitionBy("q_id")
        .orderBy(col("sim_raw").desc, col("vec_id"))
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          GraftFunctions.cosineSim(v(col("q_emb")), v(col("embedding")))
            .as("sim_raw"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("q_id"), col("vec_id"))
    }
    val exact = top3(None).tappedLocalCheckpoint()
    def eval(d: Int): DataFrame = {
      val hits = exact.join(top3(Some(d)), Seq("q_id", "vec_id"),
        "left_semi").agg(count(lit(1)).as("n_hits"))
      val total = exact.agg(count(lit(1)).as("n_exact"))
      hits.crossJoin(total).select(lit(d.toLong).as("mrl_dim"),
        col("n_hits"), col("n_exact"),
        (col("n_hits") / col("n_exact").cast("double")).as("recall"))
    }
    eval(8).unionByName(eval(16)).unionByName(eval(32))
  }

  private val mrlOracleSql: String = {
    val cos =
      "list_inner_product(%s, %s) / sqrt(list_inner_product(%s, %s) * list_inner_product(%s, %s))"
    def rank(src: String, qv: String, v: String): String =
      s"""SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |  ORDER BY ${cos.format(qv, v, qv, qv, v, v)} DESC, vec_id)
         |  AS rnk FROM $src""".stripMargin
    def evalDim(d: Int): String =
      s"""(SELECT CAST($d AS BIGINT) AS mrl_dim,
         |  (SELECT count(*) FROM exact e JOIN t$d a
         |     ON a.q_id = e.q_id AND a.vec_id = e.vec_id) AS n_hits,
         |  (SELECT count(*) FROM exact) AS n_exact,
         |  CAST((SELECT count(*) FROM exact e JOIN t$d a
         |     ON a.q_id = e.q_id AND a.vec_id = e.vec_id) AS DOUBLE)
         |    / (SELECT count(*) FROM exact) AS recall)""".stripMargin
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
       |xs AS (SELECT q_id, vec_id, qv, v FROM q CROSS JOIN e
       |       WHERE vec_id <> q_id),
       |xr AS (${rank("xs", "qv", "v")}),
       |exact AS (SELECT q_id, vec_id FROM xr WHERE rnk <= 3),
       |s8  AS (SELECT q_id, vec_id, qv[1:8]  AS qt, v[1:8]  AS vt FROM xs),
       |s16 AS (SELECT q_id, vec_id, qv[1:16] AS qt, v[1:16] AS vt FROM xs),
       |s32 AS (SELECT q_id, vec_id, qv[1:32] AS qt, v[1:32] AS vt FROM xs),
       |r8  AS (${rank("s8", "qt", "vt")}),
       |r16 AS (${rank("s16", "qt", "vt")}),
       |r32 AS (${rank("s32", "qt", "vt")}),
       |t8  AS (SELECT q_id, vec_id FROM r8  WHERE rnk <= 3),
       |t16 AS (SELECT q_id, vec_id FROM r16 WHERE rnk <= 3),
       |t32 AS (SELECT q_id, vec_id FROM r32 WHERE rnk <= 3)
       |SELECT * FROM ${evalDim(8)}
       |UNION ALL SELECT * FROM ${evalDim(16)}
       |UNION ALL SELECT * FROM ${evalDim(32)}""".stripMargin
  }

  // ---------------------------------------------------------------------
  // llm_bradley_terry
  // ---------------------------------------------------------------------

  /** Bradley–Terry source-strength fit. Comparisons: cross-source
    * document pairs inside a 100-char length band (blocked equi-join —
    * never all-pairs), thinned by the deterministic 1-in-19 pair
    * sample (a.doc_id + b.doc_id) % 19 = 0 — band blocking alone
    * left Σ n_b² pairs growing quadratically in corpus size (12.9 s
    * at sf0.1, 80 s at sf1 in the scaling harness); the modulus is
    * the knob a 100 TB run turns up, and ~10⁴ outcomes per source
    * pair are far more than the 20-item fit needs. Longer document
    * wins, ties dropped. Fit: three
    * unrolled MM iterations p_i ← W_i / Σ_j n_ij/(p_i+p_j),
    * renormalized to mean 1 each round. The pair census is exact
    * integers; each iteration's denominators sum ≤(k−1) O(1) doubles,
    * so the emitted strengths sit far inside the 1e-6 gate. Shared
    * SQL text on both engines. */
  /** The O(pairs) census CTE list + aggregate select: everything
    * downstream is a ≤k² relation. */
  /** The (a.doc_id + b.doc_id) % M = 0 pair sampling rides the JOIN
    * KEY ((band, residue) composite: b ≡ −a mod M), not a post-join
    * filter — the hash join then emits only the 1/M sampled pairs
    * instead of evaluating the predicate on every band pair (~250M at
    * sf0.1; measured 5.9 s → 1.9 s). Identical result set.
    *
    * M is a CORPUS LADDER, not the r13 fixed 19: a fixed thinning
    * modulus leaves sampled-pair mass ~n²/M — the r14 checkpoint-tap
    * census measured the fixed-19 shape at 2,495 → 240,822 (97×) on
    * the 10× sf0.01→sf0.1 step, exactly the class the docstring's
    * old "the modulus is the knob a 100 TB run turns up" deferred.
    * The knob now turns itself: M = 19·2^(doublings past 512 docs),
    * so sampled outcomes grow ~linearly with the corpus (still far
    * more than the ≤k² fit consumes — ~15k at sf0.1) and the
    * modulus reaches any target rate without code changes. The
    * doubling is emitted through `shl1` because the two engines
    * spell the shift differently (Spark `shiftleft`, DuckDB `<<`);
    * the LADDER COUNT itself is the shared exact-integer CASE text
    * ([[LlmVectors.ladderSql]]). */
  private def btCensusCtes(documents: String, intdiv: String,
      shl1: String => String): String = {
    val m = "(SELECT mm FROM btdial)"
    s"""btdial AS (SELECT 19 * ${shl1(
         LlmVectors.ladderSql("nn", 512L, 40))} AS mm
       |           FROM (SELECT COUNT(*) AS nn FROM $documents)),
       |d AS (SELECT doc_id, source, n_chars,
       |        n_chars $intdiv 100 AS band,
       |        doc_id % $m AS m,
       |        ($m - doc_id % $m) % $m AS neg_m FROM $documents),
       |pr AS (SELECT a.source AS si, b.source AS sj,
       |         CASE WHEN a.n_chars > b.n_chars THEN 1 ELSE 0 END AS wi
       |       FROM d a JOIN d b ON a.band = b.band
       |         AND b.m = a.neg_m
       |         AND a.source < b.source
       |       WHERE a.n_chars <> b.n_chars)""".stripMargin
  }

  private val btCensusSelect: String =
    """SELECT si, sj, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(wi) AS BIGINT) AS w FROM pr GROUP BY 1, 2""".stripMargin

  /** The MM fit over a materialized m0 relation. (Split from the
    * census so the Spark side can checkpoint m0 ONCE: the fit's CTE
    * tree references `edges` from six places, and Spark's CTE
    * inlining would otherwise re-run the whole pair join per
    * reference — 9.7 s at sf0.1; census-then-fit runs the pairs
    * once.) */
  private def btFitSql(m0: String): String = {
    def iter(prev: String, r: String, p: String): String =
      s"""$r AS (SELECT e.i, max(w1.wins) AS wins,
         |    sum(e.n / (pi.p + pj.p)) AS denom
         |  FROM edges e
         |    JOIN $prev pi ON pi.i = e.i
         |    JOIN $prev pj ON pj.i = e.j
         |    JOIN wtot w1 ON w1.i = e.i
         |  GROUP BY e.i),
         |$p AS (SELECT i, (wins / denom) * k.k
         |         / (SELECT sum(wins / denom) FROM $r) AS p
         |       FROM $r CROSS JOIN k)""".stripMargin
    s"""edges AS (SELECT si AS i, sj AS j, n, w FROM $m0
       |          UNION ALL SELECT sj, si, n, n - w FROM $m0),
       |wtot AS (SELECT i, CAST(sum(n) AS BIGINT) AS n_comp,
       |           CAST(sum(w) AS BIGINT) AS wins
       |         FROM edges GROUP BY i),
       |k AS (SELECT CAST(count(*) AS BIGINT) AS k FROM wtot),
       |p0 AS (SELECT i, CAST(1.0 AS DOUBLE) AS p FROM wtot),
       |${iter("p0", "r1", "p1")},
       |${iter("p1", "r2", "p2")},
       |${iter("p2", "r3", "p3")}
       |SELECT w.i AS source, w.n_comp, w.wins, p3.p AS bt_strength
       |FROM wtot w JOIN p3 ON p3.i = w.i""".stripMargin
  }

  /** The Spark side runs the fit ITERATION-BY-ITERATION over tiny
    * checkpointed relations instead of btFitSql's single statement:
    * each p_t's scalar subquery references r_t a second time, so CTE
    * inlining re-executes r1 eight times by iteration 3 — hundreds
    * of micro-stages whose scheduling overhead dominated the query
    * (~4 s of the 5.9 s at sf0.1). Per-iteration statements use the
    * IDENTICAL expressions over the identical (checkpointed) inputs,
    * so every emitted double matches the oracle's inlined spelling
    * bit-for-bit. */
  def llmBradleyTerry(s: SparkSession, dir: String): DataFrame = {
    def staged(text: String, frames: (String, DataFrame)*) =
      Tables.sql(s, dir, text, frames: _*).coalesce(1).tappedLocalCheckpoint()
    val m0 = "graft_bt_m0" -> staged("WITH " + btCensusCtes("documents", "DIV",
        e => s"shiftleft(CAST(1 AS BIGINT), CAST($e AS INT))") + "\n"
        + btCensusSelect)
    val edges = "graft_bt_edges" -> staged(
      """SELECT si AS i, sj AS j, n, w FROM graft_bt_m0
        |UNION ALL SELECT sj, si, n, n - w FROM graft_bt_m0""".stripMargin, m0)
    val wtot = "graft_bt_wtot" -> staged(
      """SELECT i, CAST(sum(n) AS BIGINT) AS n_comp,
        |  CAST(sum(w) AS BIGINT) AS wins
        |FROM graft_bt_edges GROUP BY i""".stripMargin, edges)
    val p0 = staged("SELECT i, CAST(1.0 AS DOUBLE) AS p FROM graft_bt_wtot", wtot)
    val p3 = (1 to 3).foldLeft(p0) { (prev, _) =>
      staged(
        """WITH r AS (SELECT e.i, max(w1.wins) AS wins,
          |    sum(e.n / (pi.p + pj.p)) AS denom
          |  FROM graft_bt_edges e
          |    JOIN graft_bt_prev pi ON pi.i = e.i
          |    JOIN graft_bt_prev pj ON pj.i = e.j
          |    JOIN graft_bt_wtot w1 ON w1.i = e.i
          |  GROUP BY e.i),
          |k AS (SELECT CAST(count(*) AS BIGINT) AS k
          |      FROM graft_bt_wtot)
          |SELECT i, (wins / denom) * k.k
          |    / (SELECT sum(wins / denom) FROM r) AS p
          |FROM r CROSS JOIN k""".stripMargin,
        edges, wtot, "graft_bt_prev" -> prev)
    }
    Tables.sql(s, dir,
      """SELECT w.i AS source, w.n_comp, w.wins, p3.p AS bt_strength
        |FROM graft_bt_wtot w JOIN graft_bt_p3 p3 ON p3.i = w.i"""
        .stripMargin, wtot, "graft_bt_p3" -> p3)
  }

  // ---------------------------------------------------------------------
  // sql_group_by_all
  // ---------------------------------------------------------------------

  /** GROUP BY ALL / ORDER BY ALL — the analyst spelling both engines
    * now support with identical text: every non-aggregate select item
    * becomes a grouping key. Decimal-pinned revenue per the
    * determinism rules. */
  private val groupByAllSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS revenue
      |FROM %s
      |GROUP BY ALL
      |ORDER BY ALL""".stripMargin

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("llm_mrl_recall", llmMrlRecall, mrlOracleSql),
    QueryDef("llm_bradley_terry", llmBradleyTerry,
      "WITH " + btCensusCtes("documents", "//",
          e => s"(CAST(1 AS BIGINT) << CAST($e AS INT))")
        + ",\nm0 AS (" + btCensusSelect + "),\n" + btFitSql("m0")),
    QueryDef.sql("sql_group_by_all",
      groupByAllSql.format("lineitem")))
}
