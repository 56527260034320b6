package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables
import graft.core.CkptTap._

/** Round-11 batch M: directed-graph components, stratified causal
  * estimation, and subword tokenization.
  *
  *  - `graph_scc` — strongly connected components of the DIRECTED
  *    nation trade graph (buyer-nation → supplier-nation), via
  *    transitive closure: iterative doubling on the Spark side,
  *    recursive-CTE closure (UNION dedup) in the oracle. All-integer
  *    outputs.
  *  - `events_propensity_strata` — stratified treatment-effect
  *    estimate: user-parity treatment (the `events_did` convention),
  *    pre-period activity quartiles as strata (deterministic ntile),
  *    pooled post-period outcome means per (stratum, arm) from exact
  *    decimal sums.
  *  - `llm_wordpiece_apply` — greedy longest-prefix WordPiece
  *    tokenization of the corpus vocabulary against a derived subword
  *    vocab (length-2..4 prefixes of the top-8 words + every single
  *    character, so the single-char floor guarantees greedy progress).
  *    Three unrolled match steps; longer words flag an UNK tail.
  *
  * The prefix-match joins are EQUI-joins on `substr(w, 1, p) = v`
  * (left side a deterministic function of the probe row, right side
  * the vocab column) — the shape that scales: candidate pieces never
  * cartesian against the corpus.
  */
object Analytics33 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---------------------------------------------------------------------
  // graph_scc
  // ---------------------------------------------------------------------

  /** Directed thresholded trade edges (the 1.15×-mean rule of the
    * graph family, WITHOUT symmetrization: na buys from nb). */
  private def dirEdgeSql(p: String): String =
    s"""WITH pair AS (
       |  SELECT CAST(c.c_nationkey AS BIGINT) AS na,
       |         CAST(s.s_nationkey AS BIGINT) AS nb, count(*) AS cnt
       |  FROM ${p}lineitem l
       |    JOIN ${p}orders o ON l.l_orderkey = o.o_orderkey
       |    JOIN ${p}customer c ON o.o_custkey = c.c_custkey
       |    JOIN ${p}supplier s ON l.l_suppkey = s.s_suppkey
       |  WHERE c.c_nationkey <> s.s_nationkey
       |  GROUP BY 1, 2),
       |tot AS (SELECT sum(cnt) AS t, count(*) AS np FROM pair)
       |SELECT na AS src, nb AS dst FROM pair CROSS JOIN tot
       |WHERE cnt * np * 100 > 115 * t""".stripMargin

  /** SCC per nation: reach = 5 rounds of relation doubling (paths up
    * to 2⁵ = 32 ≥ any 25-node diameter), mutual reach pairs, component
    * id = min mutual partner. Every intermediate relation is ≤ 25²
    * rows — coalesced to one partition and checkpointed per round
    * (the graph-family fixpoint rule; at real-graph scale the cutover
    * follows |edges| as in LlmText.minLabelComponents). */
  def graphScc(s: SparkSession, dir: String): DataFrame = {
    Seq("lineitem", "orders", "customer", "supplier")
      .foreach(n => t(s, dir, n)
        .createOrReplaceTempView("graft_scc_" + n))
    var reach = s.sql(dirEdgeSql("graft_scc_"))
      .coalesce(1).tappedLocalCheckpoint()
    // Fixpoint early-exit: reach only GROWS (each round unions itself
    // in), so an unchanged count means transitive closure is reached
    // and every further round is the identity — bit-identical to the
    // fixed-5 loop, which stays as the worst-case bound. The count
    // reads the one-partition frame the round just materialized.
    var reachCount = reach.count()
    var converged = false
    for (_ <- 1 to 5 if !converged) {
      reach = reach.alias("a")
        .join(reach.alias("b"), col("a.dst") === col("b.src"))
        .select(col("a.src").as("src"), col("b.dst").as("dst"))
        .union(reach)
        .distinct()
        .coalesce(1).tappedLocalCheckpoint()
      val c = reach.count()
      converged = c == reachCount
      reachCount = c
    }
    val nodes = t(s, dir, "nation")
      .select(col("n_nationkey").cast("long").as("v"))
    val mut = reach.alias("a")
      .join(reach.alias("b"),
        col("a.src") === col("b.dst") && col("a.dst") === col("b.src"))
      .select(col("a.src").as("v"), col("a.dst").as("u"))
    val sccId = nodes.join(mut, Seq("v"), "left")
      .groupBy("v")
      .agg(least(col("v"), coalesce(min(col("u")), col("v")))
        .as("scc_id"))
    val sizes = sccId.groupBy("scc_id")
      .agg(count(lit(1)).as("scc_size"))
    val reachStats = nodes.join(
        reach.select(col("src").as("v"), col("dst")), Seq("v"), "left")
      .groupBy("v")
      .agg(count(when(col("dst") =!= col("v"), 1)).as("n_reach"),
        coalesce(max(col("dst") === col("v")), lit(false))
          .as("is_cyclic"))
    sccId.join(sizes, "scc_id").join(reachStats, "v")
      .select(col("v").as("nation"), col("scc_id"), col("scc_size"),
        col("n_reach"), col("is_cyclic"))
  }

  private val sccOracleSql: String =
    s"""WITH RECURSIVE pair AS (
       |  SELECT CAST(c.c_nationkey AS BIGINT) AS na,
       |         CAST(s.s_nationkey AS BIGINT) AS nb, count(*) AS cnt
       |  FROM lineitem l
       |    JOIN orders o ON l.l_orderkey = o.o_orderkey
       |    JOIN customer c ON o.o_custkey = c.c_custkey
       |    JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  WHERE c.c_nationkey <> s.s_nationkey
       |  GROUP BY 1, 2),
       |tot AS (SELECT sum(cnt) AS t, count(*) AS np FROM pair),
       |edges AS (SELECT na AS src, nb AS dst FROM pair CROSS JOIN tot
       |          WHERE cnt * np * 100 > 115 * t),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst),
       |nodes AS (SELECT CAST(n_nationkey AS BIGINT) AS v FROM nation),
       |mut AS (SELECT a.src AS v, a.dst AS u
       |        FROM reach a JOIN reach b
       |          ON b.src = a.dst AND b.dst = a.src),
       |sid AS (SELECT n.v,
       |          least(n.v, coalesce(min(m.u), n.v)) AS scc_id
       |        FROM nodes n LEFT JOIN mut m ON m.v = n.v GROUP BY n.v),
       |sz AS (SELECT scc_id, CAST(count(*) AS BIGINT) AS scc_size
       |       FROM sid GROUP BY 1),
       |rs AS (SELECT n.v,
       |         CAST(count(CASE WHEN r.dst <> n.v THEN 1 END) AS BIGINT)
       |           AS n_reach,
       |         coalesce(max(r.dst = n.v), false) AS is_cyclic
       |       FROM nodes n LEFT JOIN reach r ON r.src = n.v GROUP BY n.v)
       |SELECT sid.v AS nation, sid.scc_id, sz.scc_size, rs.n_reach,
       |  rs.is_cyclic
       |FROM sid JOIN sz ON sz.scc_id = sid.scc_id
       |  JOIN rs ON rs.v = sid.v""".stripMargin

  // ---------------------------------------------------------------------
  // events_propensity_strata
  // ---------------------------------------------------------------------

  /** Stratified effect estimate: quartile strata on pre-period event
    * counts (integer ntile with a (pre_n, user_id) total order), then
    * the pooled post-period outcome mean per (stratum, arm) from one
    * exact decimal sum each. Per-stratum effect = mean_T − mean_C.
    * Shared SQL text modulo the epoch/intdiv dialects. */
  private def strataSql(events: String, epochUs: String => String,
      intdiv: String): String =
    s"""e AS (SELECT user_id, user_id % 2 AS treat, ${epochUs("ts")} AS us,
       |        CAST(value AS DECIMAL(18,4)) AS v
       |      FROM $events),
       |mid AS (SELECT (MIN(us) + MAX(us)) $intdiv 2 AS m FROM e),
       |users AS (SELECT DISTINCT user_id, treat FROM e),
       |pre AS (SELECT e.user_id, CAST(count(*) AS BIGINT) AS pre_n
       |        FROM e CROSS JOIN mid WHERE e.us < mid.m GROUP BY 1),
       |cov AS (SELECT u.user_id, u.treat, coalesce(p.pre_n, 0) AS pre_n
       |        FROM users u LEFT JOIN pre p ON p.user_id = u.user_id),
       |strat AS (SELECT user_id, treat,
       |            CAST(ntile(4) OVER (ORDER BY pre_n, user_id)
       |                 AS BIGINT) AS stratum
       |          FROM cov),
       |post AS (SELECT e.user_id, sum(e.v) AS sv,
       |           CAST(count(*) AS BIGINT) AS n
       |         FROM e CROSS JOIN mid WHERE e.us >= mid.m GROUP BY 1),
       |cell AS (SELECT st.stratum, st.treat,
       |           CAST(count(*) AS BIGINT) AS n_users,
       |           CAST(sum(coalesce(p.sv, 0)) AS DOUBLE)
       |             / sum(coalesce(p.n, 0)) AS mean_post
       |         FROM strat st LEFT JOIN post p ON p.user_id = st.user_id
       |         GROUP BY 1, 2)
       |SELECT tc.stratum, tc.n_users AS n_treat, cc.n_users AS n_ctrl,
       |  tc.mean_post AS mean_treat, cc.mean_post AS mean_ctrl,
       |  tc.mean_post - cc.mean_post AS effect
       |FROM cell tc JOIN cell cc
       |  ON tc.stratum = cc.stratum AND tc.treat = 1 AND cc.treat = 0""".stripMargin

  /** Spark side: the propensity quartile over ALL users is O(data),
    * so it rides [[graft.operators.ScalableNtile.withNtile]] (parallel
    * bucket decomposition, identical integers to the oracle's native
    * NTILE); every other CTE translates 1:1 with the same decimal
    * pins. */
  def eventsPropensityStrata(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val e = t(s, dir, "events").select(col("user_id"),
      (col("user_id") % 2).as("treat"), unix_micros(col("ts")).as("us"),
      col("value").cast(DecimalType(18, 4)).as("v"))
    val mid = e.agg(expr("(MIN(us) + MAX(us)) DIV 2").as("m"))
    val users = e.select("user_id", "treat").distinct()
    val pre = e.crossJoin(broadcast(mid)).filter(col("us") < col("m"))
      .groupBy("user_id").agg(count(lit(1)).cast("long").as("pre_n"))
    val cov = users.join(pre, Seq("user_id"), "left")
      .select(col("user_id"), col("treat"),
        coalesce(col("pre_n"), lit(0L)).as("pre_n"))
    val strat = graft.operators.ScalableNtile.withNtile(
      cov, 4, Nil, col("pre_n"), Seq(col("user_id")), "stratum")
    val post = e.crossJoin(broadcast(mid)).filter(col("us") >= col("m"))
      .groupBy("user_id").agg(sum("v").as("sv"),
        count(lit(1)).cast("long").as("n"))
    // cell is ≤8 rows but referenced twice (treat/control sides) —
    // checkpoint so the ntile chain does not re-execute per side.
    val cell = strat.join(post, Seq("user_id"), "left")
      .groupBy("stratum", "treat")
      .agg(count(lit(1)).cast("long").as("n_users"),
        (sum(coalesce(col("sv"), lit(0))).cast("double") /
          sum(coalesce(col("n"), lit(0L)))).as("mean_post"))
      .tappedLocalCheckpoint()
    val tc = cell.filter(col("treat") === 1)
      .select(col("stratum"), col("n_users").as("n_treat"),
        col("mean_post").as("mean_treat"))
    val cc = cell.filter(col("treat") === 0)
      .select(col("stratum"), col("n_users").as("n_ctrl"),
        col("mean_post").as("mean_ctrl"))
    tc.join(cc, "stratum")
      .select(col("stratum"), col("n_treat"), col("n_ctrl"),
        col("mean_treat"), col("mean_ctrl"),
        (col("mean_treat") - col("mean_ctrl")).as("effect"))
  }

  // ---------------------------------------------------------------------
  // llm_wordpiece_apply
  // ---------------------------------------------------------------------

  /** Word census (the only corpus-sized pass). */
  private def wpWordsSelect(tokRel: String): String =
    s"""SELECT w, CAST(count(*) AS BIGINT) AS freq
       |FROM $tokRel WHERE w <> '' GROUP BY w""".stripMargin

  /** Subword vocab from a words relation: 2–4-char prefixes of the
    * top-8 words + every single character (the greedy-progress
    * floor). */
  private def wpVocabCtes(words: String,
      lat: (String, String, String) => String): String =
    s"""top8 AS (SELECT w FROM $words ORDER BY freq DESC, w LIMIT 8),
       |pref AS (SELECT DISTINCT substr(t.w, 1, g.p) AS v
       |         FROM top8 t ${lat("t", "w", "g")}
       |         WHERE g.p BETWEEN 2 AND 4),
       |chars AS (SELECT DISTINCT substr(s.w, g.p, 1) AS v
       |          FROM $words s ${lat("s", "w", "g")})""".stripMargin

  private val wpVocabSelect: String =
    "SELECT v FROM pref UNION SELECT v FROM chars"

  /** The 3-step greedy fit over MATERIALIZED words/vocab relations.
    * (Split so Spark checkpoints both once: the fit references vocab
    * three times and words twice, and CTE inlining re-ran the corpus
    * tokenization + vocab derivation per reference.) */
  private def wpFitSql(words: String, vocab: String,
      lat: (String, String, String) => String): String = {
    // longest vocab prefix of `src.[c]`: explode candidate prefixes in
    // one CTE (Spark's grammar places LATERAL VIEW after all joins, so
    // the lateral and the vocab equi-join can't share a FROM), then
    // equi-join prefix = vocab and keep max length per key
    def longest(name: String, src: String, key: String, c: String): String =
      s"""${name}p AS (SELECT s.$key AS k, g.p AS p,
         |    substr(s.$c, 1, g.p) AS pf
         |  FROM $src s ${lat("s", c, "g")}),
         |$name AS (SELECT pp.k, max(pp.p) AS l FROM ${name}p pp
         |  JOIN $vocab vb ON pp.pf = vb.v GROUP BY pp.k)""".stripMargin
    s"""${longest("m1", words, "w", "w")},
       |r1 AS (SELECT w.w, w.freq, m1.l AS l1,
       |         substr(w.w, m1.l + 1) AS rest
       |       FROM $words w JOIN m1 ON m1.k = w.w),
       |r1x AS (SELECT w, rest FROM r1 WHERE rest <> ''),
       |${longest("m2", "r1x", "w", "rest")},
       |r2 AS (SELECT r1.w, r1.freq, r1.l1, m2.l AS l2,
       |         CASE WHEN m2.l IS NULL THEN '' ELSE
       |           substr(r1.rest, m2.l + 1) END AS rest
       |       FROM r1 LEFT JOIN m2 ON m2.k = r1.w),
       |r2x AS (SELECT w, rest FROM r2 WHERE rest <> ''),
       |${longest("m3", "r2x", "w", "rest")}
       |SELECT r2.w AS word, r2.freq,
       |  substr(r2.w, 1, r2.l1) AS piece1,
       |  CASE WHEN r2.l2 IS NOT NULL
       |    THEN substr(r2.w, r2.l1 + 1, r2.l2) END AS piece2,
       |  CASE WHEN m3.l IS NOT NULL
       |    THEN substr(r2.w, r2.l1 + coalesce(r2.l2, 0) + 1, m3.l) END
       |    AS piece3,
       |  CAST(1 + CASE WHEN r2.l2 IS NOT NULL THEN 1 ELSE 0 END
       |         + CASE WHEN m3.l IS NOT NULL THEN 1 ELSE 0 END
       |       AS BIGINT) AS n_pieces,
       |  CASE WHEN m3.l IS NULL THEN false
       |       ELSE substr(r2.w, r2.l1 + coalesce(r2.l2, 0) + m3.l + 1)
       |            <> '' END AS unk_tail
       |FROM r2 LEFT JOIN m3 ON m3.k = r2.w""".stripMargin
  }

  private val sparkLat: (String, String, String) => String =
    (rel, c, a) => s"LATERAL VIEW explode(sequence(1, " +
      s"CAST(length($rel.$c) AS INT))) $a AS p"

  def llmWordpieceApply(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "documents").createOrReplaceTempView("graft_wp_docs")
    s.sql("WITH tok AS (SELECT explode(split(text, ' ')) AS w "
        + "FROM graft_wp_docs)\n" + wpWordsSelect("tok"))
      .coalesce(1).tappedLocalCheckpoint()
      .createOrReplaceTempView("graft_wp_words")
    s.sql("WITH " + wpVocabCtes("graft_wp_words", sparkLat) + "\n"
        + wpVocabSelect)
      .coalesce(1).tappedLocalCheckpoint()
      .createOrReplaceTempView("graft_wp_vocab")
    s.sql("WITH " + wpFitSql("graft_wp_words", "graft_wp_vocab",
      sparkLat))
  }

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("graph_scc", graphScc, sccOracleSql),
    QueryDef("events_propensity_strata", eventsPropensityStrata,
      "WITH " + strataSql("events",
        ts => s"epoch_us(CAST($ts AS TIMESTAMP))", "//")),
    QueryDef("llm_wordpiece_apply", llmWordpieceApply, {
      val duckLat: (String, String, String) => String =
        (rel, c, a) => s", LATERAL (SELECT CAST(unnest(" +
          s"range(1, len($rel.$c) + 1)) AS INT) AS p) $a"
      "WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w " +
        "FROM documents),\n" +
        "words AS (" + wpWordsSelect("tok") + "),\n" +
        wpVocabCtes("words", duckLat) + ",\n" +
        "vocab AS (" + wpVocabSelect + "),\n" +
        wpFitSql("words", "vocab", duckLat)
    }))
}
