package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables
import graft.core.CkptTap._

/** Round-10 session-4 batch B: finance-ML transforms, heavy-tail and
  * rank statistics, tokenizer application, and information-theoretic
  * association.
  *
  *  - `win_frac_diff` — fractional differentiation (d=0.4, 8-lag
  *    window; López de Prado 2018 ch.5): the stationarity transform
  *    that preserves long memory, unlike the integer difference.
  *  - `agg_hill_tail` — Hill estimator of the Pareto tail index over
  *    the top-100 order values.
  *  - `agg_kendall_tau` — Kendall's τ_b between the URGENT and HIGH
  *    daily revenue series via the exact integer concordance census.
  *  - `llm_bpe_apply` — the trained 3-merge BPE vocabulary applied
  *    back to the corpus: per-document post-merge token counts and
  *    compression, the apply half of `llm_bpe_train`.
  *  - `agg_mutual_info` — pointwise mutual information and MI
  *    contribution per (lang, source) cell of the documents corpus.
  *
  * Determinism rules as in [[Analytics]] and [[Analytics12]].
  */
object Analytics13 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---------------------------------------------------------------------
  // win_frac_diff
  // ---------------------------------------------------------------------

  /** Fixed-window fractionally differentiated daily revenue:
    * fd_t = Σ_{k=0..7} w_k · x_{t−k} with w_0 = 1,
    * w_k = −w_{k−1}(d−k+1)/k, d = 0.4. The weights are inlined as
    * 17-significant-digit literals — both engines parse a decimal
    * literal to the same double — and the dot product is ONE
    * left-associated expression over lag() values, so there is no
    * merge-order hazard anywhere: x is exact whole-dollar integers,
    * every product and the fixed-order sum round identically. Lags
    * are observation-order (row lag over the date order), the
    * standard spelling on trading calendars with gaps. The daily
    * relation is checkpointed (8 lag reads are one window pass, but
    * the census below it would otherwise re-aggregate the corpus). */
  // e-notation so BOTH engines parse each weight as the exact DOUBLE:
  // a bare decimal literal becomes DECIMAL first, and its
  // decimal→double conversion landed 1 ulp off the direct double parse
  // in DuckDB — one sf1 row's 8-term dot product flipped (the
  // determinism doc's bare-decimal-literal rule, bitten in the wild).
  private val fdWeights = Seq(
    "1.0e0", "-4.0e-1", "-1.2000000000000002e-1", "-6.400000000000002e-2",
    "-4.160000000000001e-2", "-2.9952000000000006e-2",
    "-2.2963200000000003e-2", "-1.837056e-2")

  private def fracDiffSql(daily: String): String = {
    val lags = fdWeights.zipWithIndex.map { case (_, k) =>
      s"lag(x, $k) OVER (ORDER BY d) AS x$k"
    }.mkString(",\n       |        ")
    val dot = fdWeights.zipWithIndex
      .map { case (w, k) => s"($w) * x$k" }.mkString(" + ")
    s"""WITH l AS (SELECT d, $lags
       |      FROM $daily)
       |SELECT d, $dot AS frac_diff
       |FROM l WHERE x7 IS NOT NULL""".stripMargin
  }

  private def dailyDollarsSql(orders: String): String =
    s"""SELECT CAST(o_orderdate AS DATE) AS d,
       |       CAST(CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))))
       |            AS DECIMAL(19,0)) AS DOUBLE) AS x
       |FROM $orders GROUP BY 1""".stripMargin

  def winFracDiff(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("graft_fd_orders")
    s.sql(dailyDollarsSql("graft_fd_orders"))
      .tappedLocalCheckpoint()
      .createOrReplaceTempView("graft_fd_daily")
    s.sql(fracDiffSql("graft_fd_daily"))
  }

  // ---------------------------------------------------------------------
  // agg_hill_tail
  // ---------------------------------------------------------------------

  /** Hill estimator over the k = 100 largest order values:
    * α̂ = k / Σ_{i≤k} ln(x_(i)/x_(k+1)). The order statistics carry a
    * (value DESC, orderkey) total order so ties rank identically on
    * both engines; the 100-term ln sum rides the corr-family ulp
    * absorption. One distributed top-(k+1) sort, then scalar math —
    * at scale the rank pass is a TopK, not a full sort. Returns zero
    * rows when the table has ≤ k rows (the threshold row is the
    * join key), which keeps the empty path alive. */
  private def hillSql(orders: String): String =
    s"""WITH r AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS x,
       |        row_number() OVER (ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) DESC,
       |                           o_orderkey) AS rn
       |      FROM $orders),
       |thr AS (SELECT x AS xk FROM r WHERE rn = 101),
       |s AS (SELECT count(*) AS k, sum(ln(r.x / thr.xk)) AS lnsum,
       |        min(thr.xk) AS xk
       |      FROM r CROSS JOIN thr WHERE r.rn <= 100
       |      HAVING count(*) > 0)
       |SELECT CAST(k AS BIGINT) AS k, xk AS x_threshold,
       |  CASE WHEN lnsum > 0.0 THEN k / lnsum END AS hill_alpha
       |FROM s""".stripMargin

  def aggHillTail(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("graft_hill_orders")
    s.sql(hillSql("graft_hill_orders"))
  }

  // ---------------------------------------------------------------------
  // agg_kendall_tau
  // ---------------------------------------------------------------------

  /** Kendall's τ_b between the URGENT and HIGH whole-dollar daily
    * revenue series: concordant/discordant/tied pair censuses over
    * the a.d < b.d half-plane — ALL integer, so the O(days²) pair
    * relation (calendar-bounded, the `agg_theil_sen` precedent) is
    * exact on both engines; only τ_b's final division is floating.
    * The joined daily relation is checkpointed (the pair self-join
    * reads it twice) and its broadcast is EXPLICIT: the relation is
    * calendar-bounded (≤ days rows at any corpus size — the r9
    * "key-scaling broadcast" rule does not apply), and without the
    * hint the checkpointed side's unknown stats degrade the non-equi
    * join to CartesianProduct. */
  private def tauRestSql(joined: String): String =
    s"""WITH p AS (SELECT /*+ BROADCAST(b) */
       |        a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
       |      FROM $joined a JOIN $joined b ON a.d < b.d),
       |c AS (SELECT count(*) AS n0,
       |        sum(CASE WHEN (x1 < x2 AND y1 < y2)
       |                   OR (x1 > x2 AND y1 > y2) THEN 1 ELSE 0 END) AS cc,
       |        sum(CASE WHEN (x1 < x2 AND y1 > y2)
       |                   OR (x1 > x2 AND y1 < y2) THEN 1 ELSE 0 END) AS dd,
       |        sum(CASE WHEN x1 = x2 THEN 1 ELSE 0 END) AS tx,
       |        sum(CASE WHEN y1 = y2 THEN 1 ELSE 0 END) AS ty
       |      FROM p HAVING count(*) > 0)
       |SELECT CAST(n0 AS BIGINT) AS n_pairs, CAST(cc AS BIGINT) AS concordant,
       |  CAST(dd AS BIGINT) AS discordant,
       |  CASE WHEN (n0 - tx) * (n0 - ty) > 0
       |       THEN (cc - dd) / sqrt(CAST(n0 - tx AS DOUBLE) * (n0 - ty))
       |  END AS tau_b
       |FROM c""".stripMargin

  private def tauJoinedSql(daily: String): String =
    s"""SELECT a.d, a.rev AS x, b.rev AS y
       |FROM $daily a JOIN $daily b ON a.d = b.d
       |WHERE a.p = '1-URGENT' AND b.p = '2-HIGH'""".stripMargin

  def aggKendallTau(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("graft_tau_orders")
    s.sql(
      s"""WITH daily AS (
         |  SELECT CAST(o_orderdate AS DATE) AS d, o_orderpriority AS p,
         |         CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))))
         |              AS DECIMAL(19,0)) AS rev
         |  FROM graft_tau_orders
         |  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
         |  GROUP BY 1, 2)
         |${tauJoinedSql("daily")}""".stripMargin)
      .tappedLocalCheckpoint()
      .createOrReplaceTempView("graft_tau_joined")
    s.sql(tauRestSql("graft_tau_joined"))
  }

  // ---------------------------------------------------------------------
  // llm_bpe_apply
  // ---------------------------------------------------------------------

  /** The `llm_bpe_train` merges APPLIED: the three merge rounds
    * rebuild the trained state table st3 (vocab-sized — the train
    * loop's cost note), then each document's per-word token counts
    * come from one broadcast-shaped join of the exploded corpus
    * against st3. Emits per-doc word/char/post-BPE-token counts and
    * the compression ratio (int/int divisions only). */
  def llmBpeApply(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "documents").createOrReplaceTempView("graft_bpea_docs")
    // st0 (the word census + symbol strings, vocabulary-bounded) is
    // STAGED behind an eager checkpoint: the BPE chain references each
    // stN twice (pairs p(N+1) AND merge st(N+1)), so Spark's CTE
    // inlining re-ran the corpus tokenize 2^rounds+1 = 9 times (plan-
    // verified: 9 parquet scans of documents before, 1 after). The
    // oracle keeps the inline chain — it grades values, not spelling.
    Analytics12.stageBpeSt0(s, "graft_bpea_docs", "graft_bpea_st0")
    val words = "st0 AS (SELECT w, c, s FROM graft_bpea_st0)"
    val pairs = (st: String) =>
      s"""(SELECT pr, sum(c) AS cnt FROM (
         |  SELECT c, explode(transform(slice(syms, 1, size(syms) - 1),
         |    (x, i) -> concat(x, ' ', element_at(syms, i + 2)))) AS pr
         |  FROM (SELECT c, split(trim(s), ' ') AS syms FROM $st))
         |GROUP BY pr)""".stripMargin
    val docToks =
      """SELECT doc_id, w FROM (
        |  SELECT doc_id, explode(split(text, ' ')) AS w
        |  FROM graft_bpea_docs) WHERE w RLIKE '^[a-z]+$'""".stripMargin
    val vocabSize =
      "size(split(trim(s), ' '))"
    s.sql(Analytics12.bpeApplyChain(words, pairs, docToks, vocabSize))
  }

  // ---------------------------------------------------------------------
  // agg_mutual_info
  // ---------------------------------------------------------------------

  /** Pointwise mutual information per (lang, source) cell:
    * pmi = ln(n·N/(n_l·n_s)), contribution (n/N)·pmi, over the
    * bounded |langs|×|sources| contingency table. Every input to
    * every ln is a ratio of exact integers, and no doubles are ever
    * SUMMED — each output row is a closed-form expression, so the
    * whole query is engine-exact up to the final libm calls that
    * canon's rounding absorbs. One map-combinable census at 100 TB;
    * the margins re-enter by broadcast. */
  private def miSql(documents: String): String =
    s"""WITH c AS (SELECT lang, source, count(*) AS n
       |      FROM $documents GROUP BY 1, 2),
       |tot AS (SELECT sum(n) AS t FROM c),
       |ml AS (SELECT lang, sum(n) AS nl FROM c GROUP BY lang),
       |ms AS (SELECT source, sum(n) AS ns FROM c GROUP BY source)
       |SELECT c.lang, c.source, CAST(c.n AS BIGINT) AS n,
       |  ln(CAST(c.n AS DOUBLE) * t / (CAST(nl AS DOUBLE) * ns)) AS pmi,
       |  CAST(c.n AS DOUBLE) / t
       |    * ln(CAST(c.n AS DOUBLE) * t / (CAST(nl AS DOUBLE) * ns))
       |    AS mi_contrib
       |FROM c CROSS JOIN tot
       |  JOIN ml ON ml.lang = c.lang
       |  JOIN ms ON ms.source = c.source""".stripMargin

  def aggMutualInfo(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "documents").createOrReplaceTempView("graft_mi_docs")
    s.sql(miSql("graft_mi_docs"))
  }

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("win_frac_diff", winFracDiff,
      s"WITH daily AS (${dailyDollarsSql("orders")}),\n" +
        fracDiffSql("daily").replaceFirst("^WITH ", "")),
    QueryDef("agg_hill_tail", aggHillTail, hillSql("orders")),
    QueryDef("agg_kendall_tau", aggKendallTau,
      s"""WITH daily AS (
          |  SELECT CAST(o_orderdate AS DATE) AS d, o_orderpriority AS p,
          |         CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))))
          |              AS DECIMAL(19,0)) AS rev
          |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
          |  GROUP BY 1, 2),
          |joined AS (${tauJoinedSql("daily")}),
          |""".stripMargin +
        tauRestSql("joined").replaceFirst("^WITH ", "")),
    QueryDef("llm_bpe_apply", llmBpeApply, Analytics12.bpeApplyOracleSql),
    QueryDef("agg_mutual_info", aggMutualInfo, miSql("documents")))
}
