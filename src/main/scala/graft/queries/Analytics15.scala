package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables
import graft.core.CkptTap._

/** Round-10 session-4 batch D: spectral analysis, sampled graph
  * walks, channel breakouts, keyword extraction, and CDC merge.
  *
  *  - `agg_pca_power` — leading principal component of the embedding
  *    Gram matrix by 8 fixed power-iteration rounds.
  *  - `graph_random_walk` — DETERMINISTIC 4-step random walks on the
  *    event-transition graph (md5-lattice edge choice), the sampling
  *    primitive under node2vec/DeepWalk embeddings.
  *  - `win_donchian` — 20-period Donchian channel with breakout
  *    signals (comparisons only — exact everywhere).
  *  - `text_rake` — RAKE keyword extraction (Rose et al. 2010):
  *    stopword-split phrases, degree/frequency word scores, top-3
  *    phrases per document.
  *  - `etl_cdc_apply` — change-data-capture apply: an I/U/D changelog
  *    merged onto the base snapshot, last-writer-wins with delete
  *    tombstones (the CDC half of the `etl_upsert`/`etl_scd2` family).
  *
  * Determinism rules as in [[Analytics]] / [[Analytics12]].
  */
object Analytics15 {

  // ---------------------------------------------------------------------
  // agg_pca_power
  // ---------------------------------------------------------------------

  /** Leading eigenpair of the (uncentered) Gram matrix over the first
    * 16 embedding dimensions: G = Σ x xᵀ via one pair-exploded
    * aggregation (N×256 product rows — at full width one would
    * treeAggregate the 64×64 Gram in a single pass; the 16-dim
    * projection keeps the SQL census shape), then EIGHT fixed power
    * iterations v ← G·v / ‖G·v‖_∞ from the all-ones start (fixed
    * round count and the ∞-norm keep both engines in lockstep — the
    * norm only compares and divides). Output: the L∞-normalized
    * loading per dimension plus the Rayleigh quotient λ. Double sums
    * are Θ(1)-scaled and ride the corr-family absorption; the
    * iteration is a contraction, so cross-engine ulps shrink, not
    * compound. */
  private def pcaGramSql(comp: String): String =
    s"""WITH comp AS ($comp)
       |SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS v
       |FROM comp a JOIN comp b ON a.vec_id = b.vec_id
       |GROUP BY 1, 2""".stripMargin

  private def pcaRoundSql(g: String, v: String): String =
    s"""WITH r AS (SELECT $g.i, sum($g.v * $v.x) AS y
       |      FROM $g JOIN $v ON $v.i = $g.j GROUP BY $g.i),
       |n AS (SELECT max(abs(y)) AS m FROM r)
       |SELECT i, y / m AS x FROM r CROSS JOIN n""".stripMargin

  private def pcaFinalSql(g: String, v: String): String =
    s"""WITH gv AS (SELECT $g.i, sum($g.v * $v.x) AS y
       |       FROM $g JOIN $v ON $v.i = $g.j GROUP BY $g.i),
       |ray AS (SELECT sum($v.x * gv.y) / sum($v.x * $v.x) AS lambda
       |        FROM $v JOIN gv ON gv.i = $v.i)
       |SELECT CAST($v.i AS INT) AS dim, $v.x AS loading, ray.lambda
       |FROM $v CROSS JOIN ray""".stripMargin

  /** Oracle spelling: the whole chain as CTEs — DuckDB plans the DAG
    * without re-expansion. The SPARK side must NOT run this text: an
    * inlined CTE chain re-runs the corpus-sized Gram aggregation per
    * reference and doubles the round subtree per iteration (observed:
    * 175 s at sf0.1); the engine instead checkpoints the 256-row Gram
    * once and each 16-row iterate (below). */
  private def pcaOracleSql(comp: String): String = {
    val rounds = (1 to 8).map { r =>
      val prev = if (r == 1) "v0" else s"v${r - 1}"
      s"""r$r AS (SELECT g.i, sum(g.v * $prev.x) AS y
         |      FROM g JOIN $prev ON $prev.i = g.j GROUP BY g.i),
         |n$r AS (SELECT max(abs(y)) AS m FROM r$r),
         |v$r AS (SELECT i, y / m AS x FROM r$r CROSS JOIN n$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH comp AS MATERIALIZED ($comp),
       |g AS MATERIALIZED (SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS v
       |      FROM comp a JOIN comp b ON a.vec_id = b.vec_id
       |      GROUP BY 1, 2),
       |v0 AS (SELECT i, 1.0 AS x FROM (SELECT DISTINCT i FROM comp) d),
       |$rounds,
       |gv AS (SELECT g.i, sum(g.v * v8.x) AS y
       |       FROM g JOIN v8 ON v8.i = g.j GROUP BY g.i),
       |ray AS (SELECT sum(v8.x * gv.y) / sum(v8.x * v8.x) AS lambda
       |        FROM v8 JOIN gv ON gv.i = v8.i)
       |SELECT CAST(v8.i AS INT) AS dim, v8.x AS loading, ray.lambda
       |FROM v8 CROSS JOIN ray""".stripMargin
  }

  def aggPcaPower(s: SparkSession, dir: String): DataFrame = {
    // The one corpus-sized pass: Gram via the pair-exploded
    // aggregation, collapsed and checkpointed (256 rows).
    val gram = Tables.sql(s, dir, pcaGramSql(
        """SELECT vec_id, i, CAST(element_at(embedding, i) AS DOUBLE) AS x
          |FROM embeddings LATERAL VIEW explode(sequence(1, 16)) t AS i""".stripMargin))
      .coalesce(1).tappedLocalCheckpoint()
    val g = "graft_pca_g" -> gram
    val v0 = Tables.sql(s, dir, "SELECT DISTINCT i, 1.0 AS x FROM graft_pca_g", g)
      .coalesce(1).tappedLocalCheckpoint()
    // Each iterate is a 16-row relation; checkpointing it keeps every
    // round's plan two tiny joins deep instead of doubling.
    val v8 = (1 to 8).foldLeft(v0) { (v, _) =>
      Tables.sql(s, dir, pcaRoundSql("graft_pca_g", "graft_pca_v"), g, "graft_pca_v" -> v)
        .coalesce(1).tappedLocalCheckpoint()
    }
    Tables.sql(s, dir, pcaFinalSql("graft_pca_g", "graft_pca_v"), g, "graft_pca_v" -> v8)
  }

  // ---------------------------------------------------------------------
  // graph_random_walk
  // ---------------------------------------------------------------------

  /** Eight deterministic 4-step walks from every event type on the
    * user-session transition graph. The "coin" for (start, walk,
    * step, node) is the first 16 md5 bits of that tuple — both
    * engines compute the identical digest — reduced mod the node's
    * out-degree and matched against the (dst-ordered) edge rank, so
    * each step is one equi-join, no RNG anywhere. Walk sampling is
    * the scale shape under DeepWalk/node2vec corpus generation: the
    * walk frontier joins the (broadcast-sized) ranked edge relation
    * once per step. */
  private def walkSql(edges: String): String = {
    def u16(key: String): String =
      s"""((instr('0123456789abcdef', substr(md5($key), 1, 1)) - 1) * 4096
         | + (instr('0123456789abcdef', substr(md5($key), 2, 1)) - 1) * 256
         | + (instr('0123456789abcdef', substr(md5($key), 3, 1)) - 1) * 16
         | + (instr('0123456789abcdef', substr(md5($key), 4, 1)) - 1))""".stripMargin
    def key(step: Int, cur: String): String =
      s"start_type || ':' || CAST(walk_id AS STRING) || ':$step:' || $cur"
    val steps = (1 to 4).map { st =>
      val prev = if (st == 1) "w0" else s"w${st - 1}"
      s"""w$st AS (SELECT p.start_type, p.walk_id,
         |        e.dst AS cur, p.path || '>' || e.dst AS path
         |      FROM $prev p JOIN r e ON e.src = p.cur
         |        AND e.rk = ${u16(key(st, "p.cur"))} % e.outdeg)""".stripMargin
    }.mkString(",\n")
    s"""WITH r AS (SELECT src, dst,
       |        row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS rk,
       |        count(*) OVER (PARTITION BY src) AS outdeg
       |      FROM $edges),
       |starts AS (SELECT DISTINCT src AS start_type FROM r),
       |w0 AS (SELECT start_type, walk_id, start_type AS cur,
       |         start_type AS path
       |       FROM starts CROSS JOIN (SELECT 0 AS walk_id UNION ALL
       |         SELECT 1 UNION ALL SELECT 2 UNION ALL SELECT 3 UNION ALL
       |         SELECT 4 UNION ALL SELECT 5 UNION ALL SELECT 6 UNION ALL
       |         SELECT 7) ws),
       |$steps
       |SELECT start_type, CAST(walk_id AS INT) AS walk_id, path,
       |       cur AS end_type
       |FROM w4""".stripMargin
  }

  private def walkEdgesSql(events: String, lead: String): String =
    s"""SELECT event_type AS src, nxt AS dst FROM (
       |  SELECT event_type, $lead AS nxt FROM $events) e
       |WHERE nxt IS NOT NULL GROUP BY 1, 2""".stripMargin

  def graphRandomWalk(s: SparkSession, dir: String): DataFrame = {
    val edges = Tables.sql(s, dir, walkEdgesSql("events",
        "lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)"))
      .tappedLocalCheckpoint()
    Tables.sql(s, dir, walkSql("graft_rw_edges"), "graft_rw_edges" -> edges)
  }

  // ---------------------------------------------------------------------
  // win_donchian
  // ---------------------------------------------------------------------

  /** 20-period Donchian channel per user (rolling high/low of the
    * PRECEDING 20 observations, exclusive of the current one) with
    * the breakout signal. Max/min only COMPARE doubles — the whole
    * query is bit-exact on both engines. */
  private def donchianSql(events: String): String =
    s"""WITH w AS (SELECT user_id, event_id, value,
       |        max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |          ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING) AS dc_high,
       |        min(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |          ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING) AS dc_low,
       |        row_number() OVER (PARTITION BY user_id
       |          ORDER BY ts, event_id) AS rn
       |      FROM $events)
       |SELECT user_id, event_id, value, dc_high, dc_low,
       |  CASE WHEN value > dc_high THEN 1
       |       WHEN value < dc_low THEN -1 ELSE 0 END AS breakout
       |FROM w WHERE rn > 20""".stripMargin

  // ---------------------------------------------------------------------
  // text_rake
  // ---------------------------------------------------------------------

  /** RAKE keywords: the 5 highest-frequency corpus words act as the
    * stopword delimiter set (the fixture has no natural stopwords;
    * the selection is deterministic under (count DESC, word)), content
    * runs between them become candidate phrases via gaps-and-islands,
    * word score = degree/frequency with degree = Σ phrase lengths
    * over the word's occurrences, and each phrase scores the sum of
    * its word scores. Word scores are QUANTIZED to round(10⁶·deg/freq)
    * BIGINT before the phrase sum, so the per-document top-3 ranking
    * orders INTEGERS — no cross-engine ulp can flip a rank. `tok` and
    * the position-ordered phrase reassembly are dialect-split. */
  private def rakeSql(tok: String, phraseAgg: String): String =
    s"""WITH tok AS ($tok),
       |stop AS (SELECT w FROM tok GROUP BY w
       |         ORDER BY count(*) DESC, w LIMIT 5),
       |nt AS (SELECT tk.doc_id, tk.pos, tk.w FROM tok tk
       |       LEFT JOIN stop s ON s.w = tk.w WHERE s.w IS NULL),
       |isl AS (SELECT doc_id, pos, w,
       |          pos - row_number() OVER (PARTITION BY doc_id
       |            ORDER BY pos) AS grp
       |        FROM nt),
       |ph AS (SELECT doc_id, grp, count(*) AS plen FROM isl GROUP BY 1, 2),
       |wstat AS (SELECT isl.w, count(*) AS freq,
       |            sum(ph.plen) AS degree
       |          FROM isl JOIN ph ON ph.doc_id = isl.doc_id
       |            AND ph.grp = isl.grp
       |          GROUP BY isl.w),
       |ws AS (SELECT w, CAST(round(1000000.0 * degree / freq) AS BIGINT)
       |         AS score_scaled FROM wstat),
       |scored AS (SELECT isl.doc_id, isl.grp, $phraseAgg AS phrase,
       |             count(*) AS n_words,
       |             sum(ws.score_scaled) AS score_scaled
       |           FROM isl JOIN ws ON ws.w = isl.w
       |           GROUP BY isl.doc_id, isl.grp),
       |ranked AS (SELECT doc_id, phrase, n_words, score_scaled,
       |             row_number() OVER (PARTITION BY doc_id
       |               ORDER BY score_scaled DESC, phrase, grp) AS rk
       |           FROM scored)
       |SELECT doc_id, CAST(rk AS INT) AS rk, phrase,
       |  CAST(n_words AS BIGINT) AS n_words,
       |  CAST(score_scaled AS DOUBLE) / 1000000.0 AS rake_score
       |FROM ranked WHERE rk <= 3""".stripMargin

  def textRake(s: SparkSession, dir: String): DataFrame = {
    val tok =
      """SELECT doc_id, pos + 1 AS pos, w FROM (
        |  SELECT doc_id, posexplode(split(text, ' ')) AS (pos, w)
        |  FROM documents) WHERE w RLIKE '^[a-z]+$'""".stripMargin
    val phraseAgg =
      """array_join(transform(array_sort(collect_list(
        |  struct(isl.pos, isl.w))), p -> p.w), ' ')""".stripMargin
    Tables.sql(s, dir, rakeSql(tok, phraseAgg))
  }

  // ---------------------------------------------------------------------
  // etl_cdc_apply
  // ---------------------------------------------------------------------

  /** CDC merge: a derived I/U/D changelog applied over the base
    * snapshot with last-writer-wins ordering and delete tombstones —
    * the streaming-CDC compaction semantics (Debezium-style op
    * records) next to `etl_upsert`'s update-only merge and
    * `etl_scd2`'s history-keeping one. Emits the post-apply census
    * per final operation (deleted keys REPORT as 'D' with no
    * revenue). All prices ride DECIMAL(18,2); the update mutation is
    * an EXACT +10.00 — a ×1.05 repricing puts every odd-cent price on
    * a half-cent tie, where Spark's HALF_UP decimal cast and DuckDB's
    * tie rule systematically diverge (observed: all 3000 'U' rows at
    * sf0.01). */
  private def cdcSql(orders: String): String =
    s"""WITH base AS (SELECT o_orderkey AS k, 'B' AS op,
       |        CAST(o_totalprice AS DECIMAL(18,2)) AS price, 0 AS seq
       |      FROM $orders),
       |chg AS (
       |  SELECT o_orderkey AS k, 'D' AS op,
       |         CAST(NULL AS DECIMAL(18,2)) AS price, 1 AS seq
       |  FROM $orders WHERE o_orderkey % 7 = 0
       |  UNION ALL
       |  SELECT o_orderkey, 'U',
       |         CAST(CAST(o_totalprice AS DECIMAL(18,2))
       |              + CAST(10.00 AS DECIMAL(18,2)) AS DECIMAL(18,2)), 2
       |  FROM $orders WHERE o_orderkey % 5 = 0
       |  UNION ALL
       |  SELECT o_orderkey + 1000000000, 'I',
       |         CAST(o_totalprice AS DECIMAL(18,2)), 3
       |  FROM $orders WHERE o_orderkey % 11 = 3),
       |merged AS (SELECT * FROM base UNION ALL SELECT * FROM chg),
       |last AS (SELECT k, op, price,
       |           row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
       |         FROM merged)
       |SELECT op AS final_op, CAST(count(*) AS BIGINT) AS n_keys,
       |  CAST(sum(price) AS DOUBLE) AS total_price
       |FROM last WHERE rn = 1
       |GROUP BY op""".stripMargin

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("agg_pca_power", aggPcaPower, pcaOracleSql(
      """SELECT vec_id, g AS i, CAST(embedding[g] AS DOUBLE) AS x
        |FROM embeddings, UNNEST(generate_series(1, 16)) t(g)""".stripMargin)),
    QueryDef("graph_random_walk", graphRandomWalk,
      s"""WITH edges AS (${walkEdgesSql("events",
            "lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)")
          .replaceFirst("^SELECT", "SELECT")}),
          |""".stripMargin +
        walkSql("edges").replaceFirst("^WITH ", "")
          .replace("CAST(walk_id AS STRING)", "CAST(walk_id AS VARCHAR)")),
    QueryDef.sql("win_donchian", donchianSql("events")),
    QueryDef("text_rake", textRake, rakeSql(
      """SELECT doc_id, g AS pos, d.ts[g] AS w
        |FROM (SELECT doc_id, string_split(text, ' ') AS ts
        |      FROM documents) d,
        |  UNNEST(generate_series(1, len(d.ts))) AS t(g)
        |WHERE regexp_matches(d.ts[g], '^[a-z]+$')""".stripMargin,
      "string_agg(isl.w, ' ' ORDER BY isl.pos)")),
    QueryDef.sql("etl_cdc_apply", cdcSql("orders")))
}
