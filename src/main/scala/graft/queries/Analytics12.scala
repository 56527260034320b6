package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables
import graft.core.CkptTap._

/** Round-10 session-4 widening: econometric diagnostics, tokenizer
  * training, privacy release, link prediction, and two Spark-surface
  * items (SQL pipe syntax, `_metadata` columns) still absent from the
  * 279-query inventory.
  *
  *  - `win_rolling_beta` — 12-month rolling CAPM beta of each order
  *    priority's monthly revenue against the whole-market series.
  *  - `agg_vol_estimators` — Parkinson (1980) and Garman-Klass (1980)
  *    range-based volatility from per-user daily OHLC bars: the two
  *    standard high-low estimators next to the close-to-close family
  *    already covered by `win_rolling_zscore`/`win_garch`.
  *  - `agg_cointegration` — Engle-Granger two-step: OLS hedge ratio
  *    between two priority revenue series, then the ADF regression
  *    Δe on e₋₁ over the cent-quantized residual series.
  *  - `agg_pacf` — partial autocorrelation at lags 1-3 via the
  *    Durbin-Levinson closed form over the lag-k Pearson ACF.
  *  - `agg_ljung_box` — the Ljung-Box portmanteau statistic over the
  *    same lag-1..7 ACF base as `events_acf`.
  *  - `llm_bpe_train` — THREE rounds of byte-pair-encoding merge
  *    training (argmax pair + greedy left-to-right merge application)
  *    over the corpus word-frequency table: the tokenizer-training
  *    counterpart of `llm_bpe_pairs`' single static census.
  *  - `llm_dp_histogram` — ε=1 Laplace-mechanism release of the
  *    per-language document histogram, noise drawn from the md5
  *    16-bit lattice via the inverse CDF (deterministic, so the
  *    mechanism itself — not a rand() stand-in — is graded).
  *  - `graph_adamic_adar` — link prediction on the thresholded nation
  *    trade graph: common-neighbor count, Jaccard, and Adamic-Adar
  *    scores for every NON-adjacent pair with ≥1 common neighbor.
  *  - `sql_pipe_syntax` — the same aggregation spelled in Spark 4's
  *    SQL pipe syntax (`|>`), graded against its ANSI equivalent.
  *  - `scan_metadata_cols` — per-file audit via the hidden
  *    `_metadata` struct over a value-partitioned layout, graded
  *    against the semantic per-bucket census.
  *
  * Determinism rules as in [[Analytics]]: exact DECIMAL/BIGINT sums
  * wherever a sum's order could matter, doubles only downstream of
  * exact sums (products of identical doubles round identically on
  * both engines) or where canon's 1e-6 rounding absorbs libm ulps
  * (LN here), total orders under every LIMIT.
  */
object Analytics12 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---------------------------------------------------------------------
  // win_rolling_beta
  // ---------------------------------------------------------------------

  /** 12-month rolling CAPM beta, priority vs market. The monthly
    * revenue series are whole-dollar DECIMAL(19,0) (floor of the
    * exact cent sum — floor, not a decimal→int cast, because Spark
    * truncates that cast while DuckDB rounds it), products ride
    * DECIMAL(38,0) so every window sum is EXACT at any scale (the
    * BIGINT spelling overflows around sf1), and only the final
    * beta arithmetic drops to DOUBLE — products of identical exact
    * doubles round identically on both engines. The RANGE frame is
    * keyed on the month NUMBER so calendar gaps shorten the window
    * rather than silently widening it. Scale shape: ONE distributed
    * aggregation to the month×priority grain (the monthly relation is
    * checkpointed — `mkt` and the join both read it, and an inlined
    * CTE would re-scan the corpus per reference), then windows over a
    * calendar-bounded (~80-row-per-priority) relation. */
  private def monthlySql(orders: String): String =
    s"""SELECT o_orderpriority AS priority,
       |       year(o_orderdate) * 12 + month(o_orderdate) AS mn,
       |       CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))))
       |            AS DECIMAL(19,0)) AS rev
       |FROM $orders GROUP BY 1, 2""".stripMargin

  private def rollingBetaRestSql(monthly: String): String =
    s"""WITH mkt AS (SELECT mn, CAST(sum(rev) AS DECIMAL(19,0)) AS mrev
       |        FROM $monthly GROUP BY mn),
       |s AS (SELECT m.priority, m.mn, m.rev AS y, k.mrev AS x
       |      FROM $monthly m JOIN mkt k ON k.mn = m.mn),
       |w AS (SELECT priority, mn,
       |        count(*) OVER (PARTITION BY priority ORDER BY mn
       |          RANGE BETWEEN 11 PRECEDING AND CURRENT ROW) AS n,
       |        CAST(sum(CAST(x AS DECIMAL(38,0))) OVER (PARTITION BY priority ORDER BY mn
       |          RANGE BETWEEN 11 PRECEDING AND CURRENT ROW) AS DOUBLE) AS sx,
       |        CAST(sum(CAST(y AS DECIMAL(38,0))) OVER (PARTITION BY priority ORDER BY mn
       |          RANGE BETWEEN 11 PRECEDING AND CURRENT ROW) AS DOUBLE) AS sy,
       |        CAST(sum(CAST(x AS DECIMAL(19,0)) * y) OVER (PARTITION BY priority ORDER BY mn
       |          RANGE BETWEEN 11 PRECEDING AND CURRENT ROW) AS DOUBLE) AS sxy,
       |        CAST(sum(CAST(x AS DECIMAL(19,0)) * x) OVER (PARTITION BY priority ORDER BY mn
       |          RANGE BETWEEN 11 PRECEDING AND CURRENT ROW) AS DOUBLE) AS sxx
       |      FROM s)
       |SELECT priority, CAST(mn AS INT) AS mn, CAST(n AS BIGINT) AS n_months,
       |  CASE WHEN n < 6 OR n * sxx - sx * sx = 0.0 THEN NULL
       |       ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS beta
       |FROM w""".stripMargin

  def winRollingBeta(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("graft_beta_orders")
    s.sql(monthlySql("graft_beta_orders"))
      .tappedLocalCheckpoint()
      .createOrReplaceTempView("graft_beta_monthly")
    s.sql(rollingBetaRestSql("graft_beta_monthly"))
  }

  // ---------------------------------------------------------------------
  // agg_vol_estimators
  // ---------------------------------------------------------------------

  /** Parkinson and Garman-Klass range volatility per user from daily
    * OHLC bars (open/close by explicit (ts, event_id) total order,
    * the [[Analytics2.etlOhlcResample]] exchange). Ticks below 1.0
    * are dropped so ln(h/l) is bounded. The per-user double sums are
    * order-dependent in the last ulps, but the terms are Θ(1) and
    * the canon rounds at 1e-6 — the same absorption contract as the
    * corr() family (`events_acf`). GK's per-day term can be negative;
    * the mean is floored at 0 before the square root so degenerate
    * series emit 0, not NaN, on both engines. */
  private def volEstimatorsSql(events: String): String =
    s"""WITH tk AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d,
       |              ts, event_id, value
       |            FROM $events WHERE value >= 1.0),
       |fb AS (SELECT user_id, d, value,
       |         first_value(value) OVER (PARTITION BY user_id, d
       |           ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING
       |           AND UNBOUNDED FOLLOWING) AS o,
       |         last_value(value) OVER (PARTITION BY user_id, d
       |           ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING
       |           AND UNBOUNDED FOLLOWING) AS c
       |       FROM tk),
       |bars AS (SELECT user_id, d, min(o) AS o, max(value) AS h,
       |           min(value) AS l, min(c) AS c
       |         FROM fb GROUP BY user_id, d),
       |terms AS (SELECT user_id, ln(h / l) AS hl, ln(c / o) AS co FROM bars)
       |SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
       |  sqrt(sum(hl * hl) / (4.0 * ln(2.0) * count(*))) AS parkinson,
       |  sqrt(greatest(sum(0.5 * hl * hl - (2.0 * ln(2.0) - 1.0) * co * co)
       |                  / count(*), 0.0)) AS garman_klass
       |FROM terms GROUP BY user_id HAVING count(*) >= 5""".stripMargin

  def aggVolEstimators(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events").createOrReplaceTempView("graft_vol_events")
    s.sql(volEstimatorsSql("graft_vol_events"))
  }

  // ---------------------------------------------------------------------
  // agg_cointegration
  // ---------------------------------------------------------------------

  /** Engle-Granger two-step cointegration test between the URGENT and
    * HIGH daily revenue series. Step 1's OLS runs on exact
    * DECIMAL(38,0) sums of whole-dollar series (any order, any
    * engine). Step 2 quantizes the per-day residual to CENTS —
    * round(e·100) on a double both engines computed bit-identically,
    * then an exact integer cast — so the ADF sums Σe₋Δe, Σe₋², ΣΔe²
    * are again order-free exact DECIMAL(38,0), and γ and its t-stat
    * are pure double arithmetic on exact inputs. The daily relation
    * is calendar-bounded and CHECKPOINTED on the Spark side (its
    * self-join would otherwise re-scan the corpus per reference);
    * every corpus-sized pass is one aggregation. */
  private def cointDailySql(orders: String): String =
    s"""SELECT CAST(o_orderdate AS DATE) AS d, o_orderpriority AS p,
       |       CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))))
       |            AS DECIMAL(19,0)) AS rev
       |FROM $orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
       |GROUP BY 1, 2""".stripMargin

  private def cointRestSql(daily: String): String =
    s"""WITH s AS (SELECT a.d, a.rev AS y, b.rev AS x
       |      FROM $daily a JOIN $daily b ON a.d = b.d
       |      WHERE a.p = '1-URGENT' AND b.p = '2-HIGH'),
       |m AS (SELECT count(*) AS n,
       |        CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
       |        CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
       |        CAST(sum(CAST(x AS DECIMAL(19,0)) * y) AS DOUBLE) AS sxy,
       |        CAST(sum(CAST(x AS DECIMAL(19,0)) * x) AS DOUBLE) AS sxx
       |      FROM s),
       |fit AS (SELECT n, (n * sxy - sx * sy) / (n * sxx - sx * sx) AS beta,
       |               sx, sy FROM m),
       |fit2 AS (SELECT n, beta, (sy - beta * sx) / n AS alpha FROM fit),
       |r AS (SELECT s.d,
       |        CAST(round((CAST(y AS DOUBLE) - f.alpha
       |                    - f.beta * CAST(x AS DOUBLE)) * 100.0, 0)
       |             AS BIGINT) AS ec
       |      FROM s CROSS JOIN fit2 f),
       |lagd AS (SELECT ec, lag(ec) OVER (ORDER BY d) AS ep FROM r),
       |dd AS (SELECT ep, ec - ep AS de FROM lagd WHERE ep IS NOT NULL),
       |sums AS (SELECT count(*) AS n2,
       |           CAST(sum(CAST(ep AS DECIMAL(19,0)) * de) AS DOUBLE) AS s_ed,
       |           CAST(sum(CAST(ep AS DECIMAL(19,0)) * ep) AS DOUBLE) AS s_ee,
       |           CAST(sum(CAST(de AS DECIMAL(19,0)) * de) AS DOUBLE) AS s_dd
       |         FROM dd),
       |g AS (SELECT n2, s_ed / s_ee AS gamma, s_ee, s_dd, s_ed FROM sums)
       |SELECT f.n AS n_days, f.beta AS hedge_ratio, f.alpha,
       |  g.gamma,
       |  g.gamma * sqrt(g.s_ee)
       |    / sqrt(greatest((g.s_dd - g.s_ed * g.s_ed / g.s_ee)
       |                      / (g.n2 - 1), 1e-12)) AS adf_t
       |FROM fit2 f CROSS JOIN g""".stripMargin

  def aggCointegration(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("graft_coint_orders")
    s.sql(cointDailySql("graft_coint_orders"))
      .tappedLocalCheckpoint()
      .createOrReplaceTempView("graft_coint_daily")
    s.sql(cointRestSql("graft_coint_daily"))
  }

  // ---------------------------------------------------------------------
  // agg_pacf / agg_ljung_box
  // ---------------------------------------------------------------------

  /** Shared ACF base (the `events_acf` census): daily value sums
    * DECIMAL(38,18)-pinned, lag pairs by a date-shift join on the
    * tiny daily relation, lag-k Pearson ρ via corr(). `dateSub` is
    * the one dialect split (Spark `date_sub(d, k)`, DuckDB
    * `d - CAST(k AS INTEGER)`). The daily census is split out so the
    * Spark side can checkpoint it — the self-join references it
    * maxLag+1 times, each of which would otherwise re-scan the
    * corpus. */
  private def acfDailySql(events: String): String =
    s"""SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
       |       CAST(sum(CAST(value AS DECIMAL(38, 18))) AS DOUBLE) AS s
       |FROM $events GROUP BY 1""".stripMargin

  private def acfCte(daily: String, maxLag: Int, dateSub: String): String = {
    val lags = (1 to maxLag).map(k => s"SELECT $k AS lag")
      .mkString(" UNION ALL ")
    s"""lags AS ($lags),
       |j AS (SELECT l.lag, a.s AS sa, b.s AS sb
       |      FROM lags l CROSS JOIN $daily a
       |        JOIN $daily b ON b.d = $dateSub),
       |acf AS (SELECT lag, corr(sa, sb) AS rho FROM j GROUP BY lag)""".stripMargin
  }

  private def checkpointedDaily(s: SparkSession, dir: String,
      tag: String): String = {
    t(s, dir, "events").createOrReplaceTempView(s"graft_${tag}_events")
    s.sql(acfDailySql(s"graft_${tag}_events"))
      .tappedLocalCheckpoint()
      .createOrReplaceTempView(s"graft_${tag}_daily")
    s"graft_${tag}_daily"
  }

  /** PACF at lags 1-3 by the Durbin-Levinson closed form:
    * φ₁₁ = ρ₁, φ₂₂ = (ρ₂−ρ₁²)/(1−ρ₁²), φ₂₁ = ρ₁(1−φ₂₂),
    * φ₃₃ = (ρ₃−φ₂₁ρ₂−φ₂₂ρ₁)/(1−φ₂₁ρ₁−φ₂₂ρ₂) — scalar arithmetic on
    * three corr() values, one output row. The AR-order diagnostic
    * that complements the raw ACF: a series with geometric ACF decay
    * but a single PACF spike is AR(1). */
  private def pacfSql(daily: String, dateSub: String): String =
    s"""WITH ${acfCte(daily, 3, dateSub)},
       |p AS (SELECT max(CASE WHEN lag = 1 THEN rho END) AS r1,
       |             max(CASE WHEN lag = 2 THEN rho END) AS r2,
       |             max(CASE WHEN lag = 3 THEN rho END) AS r3 FROM acf),
       |d2 AS (SELECT r1, r2, r3,
       |         (r2 - r1 * r1) / (1.0 - r1 * r1) AS phi22 FROM p),
       |d3 AS (SELECT r1, r2, r3, phi22, r1 * (1.0 - phi22) AS phi21 FROM d2)
       |SELECT r1 AS rho1, r2 AS rho2, r3 AS rho3,
       |  r1 AS pacf1, phi22 AS pacf2,
       |  (r3 - phi21 * r2 - phi22 * r1)
       |    / (1.0 - phi21 * r1 - phi22 * r2) AS pacf3
       |FROM d3""".stripMargin

  def aggPacf(s: SparkSession, dir: String): DataFrame =
    s.sql(pacfSql(checkpointedDaily(s, dir, "pacf"),
      "date_sub(a.d, l.lag)"))

  /** Ljung-Box portmanteau Q over lags 1-7:
    * Q_h = n(n+2)·Σ_{k≤h} ρ_k²/(n−k), emitted cumulatively per lag so
    * the row set doubles as the white-noise rejection profile. The
    * cumulative sum runs over SEVEN ordered doubles — ulp noise far
    * below the 1e-6 canon. */
  private def ljungBoxSql(daily: String, dateSub: String): String =
    s"""WITH ${acfCte(daily, 7, dateSub)},
       |nn AS (SELECT count(*) AS n FROM $daily),
       |q AS (SELECT lag, rho, rho * rho / (n - lag) AS term, n
       |      FROM acf CROSS JOIN nn)
       |SELECT CAST(lag AS INT) AS lag, rho,
       |  n * (n + 2.0) * sum(term) OVER (ORDER BY lag
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS q_cum
       |FROM q""".stripMargin

  def aggLjungBox(s: SparkSession, dir: String): DataFrame =
    s.sql(ljungBoxSql(checkpointedDaily(s, dir, "lb"),
      "date_sub(a.d, l.lag)"))

  // ---------------------------------------------------------------------
  // llm_bpe_train
  // ---------------------------------------------------------------------

  /** Three rounds of BPE merge TRAINING. The corpus-sized pass is one
    * tokenize + word-frequency count; every merge round then runs on
    * the |vocab|-sized state table: adjacent-pair census weighted by
    * word frequency, argmax under the total order (count DESC, pair
    * ASC), and greedy merge application. Application is spelled as a
    * DOUBLE replace of ' x y ' → ' xy ' on the space-separated
    * symbol string: a single left-to-right replace misses an
    * occurrence whose leading space was consumed by the previous
    * match (' x y x y ' → ' xy x y '), and after one pass all
    * survivors have intact boundaries, so replace∘replace IS the
    * greedy fixpoint — on both engines, which share the
    * non-overlapping left-to-right replace contract. At 100 TB the
    * state table is the language's word vocabulary (millions of
    * rows), not the corpus: the loop cost is independent of corpus
    * size after the first count. */
  def llmBpeTrain(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "documents").createOrReplaceTempView("graft_bpe_docs")
    // st0 staged once: the chain references each stN twice, so CTE
    // inlining re-ran the corpus tokenize 2^rounds+1 times.
    stageBpeSt0(s, "graft_bpe_docs", "graft_bpe_st0")
    val words = "st0 AS (SELECT w, c, s FROM graft_bpe_st0)"
    val pairs = (st: String) =>
      s"""(SELECT pr, sum(c) AS cnt FROM (
         |  SELECT c, explode(transform(slice(syms, 1, size(syms) - 1),
         |    (x, i) -> concat(x, ' ', element_at(syms, i + 2)))) AS pr
         |  FROM (SELECT c, split(trim(s), ' ') AS syms FROM $st))
         |GROUP BY pr)""".stripMargin
    s.sql(bpeRounds(words, pairs))
  }

  /** Stage the BPE start state st0 (word census + space-separated
    * symbol string — VOCABULARY-sized, not corpus-sized) as an eagerly
    * checkpointed temp view `outView` over the documents view
    * `docsView`. The merge chain references each state twice (pair
    * census + merge), so left as a deterministic CTE the corpus
    * tokenize re-ran 2^rounds+1 times (guide §2.4). */
  private[queries] def stageBpeSt0(s: SparkSession, docsView: String,
      outView: String): Unit = {
    import graft.core.CkptTap._
    s.sql(
      s"""SELECT w, c,
         |  ' ' || array_join(regexp_extract_all(w, '.', 0), ' ') || ' ' AS s
         |FROM (SELECT w, count(*) AS c FROM (
         |  SELECT explode(split(text, ' ')) AS w FROM $docsView)
         |  WHERE w RLIKE '^[a-z]+$$' GROUP BY w)""".stripMargin)
      .tappedLocalCheckpoint()
      .createOrReplaceTempView(outView): Unit
  }

  private def bpeMerge(st: String, m: String): String =
    s"""SELECT w, c, replace(replace(s,
       |    ' ' || $m.pr || ' ', ' ' || replace($m.pr, ' ', '') || ' '),
       |    ' ' || $m.pr || ' ', ' ' || replace($m.pr, ' ', '') || ' ') AS s
       |FROM $st CROSS JOIN $m""".stripMargin

  /** CTE chain shared by both dialects and by train/apply: `words`
    * ends with a CTE `st0(w, c, s)`; `pairs(st)` is a
    * dialect-specific derived table producing (pr, cnt) adjacent-pair
    * counts for a state CTE. Ends at `m3` (train reads m1-m3, apply
    * additionally builds st3). */
  private def bpeChain(words: String, pairs: String => String): String =
    s"""WITH $words,
       |p1 AS ${pairs("st0")},
       |m1 AS (SELECT pr, cnt FROM p1 ORDER BY cnt DESC, pr LIMIT 1),
       |st1 AS (${bpeMerge("st0", "m1")}),
       |p2 AS ${pairs("st1")},
       |m2 AS (SELECT pr, cnt FROM p2 ORDER BY cnt DESC, pr LIMIT 1),
       |st2 AS (${bpeMerge("st1", "m2")}),
       |p3 AS ${pairs("st2")},
       |m3 AS (SELECT pr, cnt FROM p3 ORDER BY cnt DESC, pr LIMIT 1)""".stripMargin

  private def bpeRounds(words: String, pairs: String => String): String =
    s"""${bpeChain(words, pairs)}
       |SELECT 1 AS round, pr AS pair, replace(pr, ' ', '') AS merged,
       |       CAST(cnt AS BIGINT) AS cnt FROM m1
       |UNION ALL SELECT 2, pr, replace(pr, ' ', ''), CAST(cnt AS BIGINT) FROM m2
       |UNION ALL SELECT 3, pr, replace(pr, ' ', ''), CAST(cnt AS BIGINT) FROM m3""".stripMargin

  /** Apply half ([[Analytics13.llmBpeApply]]): rebuild st3 from the
    * chain, derive each word's post-merge token count, and score the
    * exploded corpus against that vocab relation. `docToks` yields
    * (doc_id, w); `vocabSize` is the dialect spelling of the
    * symbol-count of state string `s`. */
  private[queries] def bpeApplyChain(words: String, pairs: String => String,
      docToks: String, vocabSize: String): String =
    s"""${bpeChain(words, pairs)},
       |st3 AS (${bpeMerge("st2", "m3")}),
       |vocab AS (SELECT w, CAST($vocabSize AS BIGINT) AS n_syms FROM st3),
       |dt AS ($docToks)
       |SELECT dt.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(v.n_syms) AS BIGINT) AS n_tokens,
       |  CAST(sum(length(dt.w)) AS BIGINT) AS n_chars,
       |  CAST(sum(v.n_syms) AS DOUBLE) / sum(length(dt.w)) AS compression
       |FROM dt JOIN vocab v ON v.w = dt.w
       |GROUP BY dt.doc_id""".stripMargin

  /** Fertility half ([[Analytics23.llmTokenizerFertility]]): same
    * chain as [[bpeApplyChain]] but rolled up per LANGUAGE —
    * tokens-per-word under the trained merges, the standard
    * tokenizer-equity audit (a lang with fertility ≫ 1 pays more
    * sequence length per word than the tokenizer's home language).
    * `docToks` must yield (lang, w). */
  private[queries] def bpeFertilityChain(words: String,
      pairs: String => String, docToks: String,
      vocabSize: String): String =
    s"""${bpeChain(words, pairs)},
       |st3 AS (${bpeMerge("st2", "m3")}),
       |vocab AS (SELECT w, CAST($vocabSize AS BIGINT) AS n_syms FROM st3),
       |dt AS ($docToks)
       |SELECT dt.lang, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(v.n_syms) AS BIGINT) AS n_tokens,
       |  CAST(sum(v.n_syms) AS DOUBLE) / count(*) AS fertility,
       |  CAST(sum(length(dt.w)) AS BIGINT) AS n_chars
       |FROM dt JOIN vocab v ON v.w = dt.w
       |GROUP BY dt.lang""".stripMargin

  private[queries] def bpeFertilityOracleSql: String = {
    val docToks =
      """SELECT lang, w FROM (
        |  SELECT lang, unnest(string_split(text, ' ')) AS w
        |  FROM documents) t WHERE regexp_matches(w, '^[a-z]+$')""".stripMargin
    bpeFertilityChain(bpeOracleWords, bpeOraclePairs, docToks,
      "len(string_split(trim(s), ' '))")
  }

  private[queries] def bpeApplyOracleSql: String = {
    val docToks =
      """SELECT doc_id, w FROM (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents) t WHERE regexp_matches(w, '^[a-z]+$')""".stripMargin
    bpeApplyChain(bpeOracleWords, bpeOraclePairs, docToks,
      "len(string_split(trim(s), ' '))")
  }

  /** DuckDB spellings of the BPE chain pieces (list primitives
    * differ: string_split / lateral generate_series / 1-based
    * slices). */
  private val bpeOracleWords: String =
    """words AS (SELECT w, count(*) AS c FROM (
      |  SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
      |  WHERE regexp_matches(w, '^[a-z]+$') GROUP BY w),
      |st0 AS (SELECT w, c,
      |  ' ' || array_to_string(regexp_extract_all(w, '.'), ' ') || ' ' AS s
      |  FROM words)""".stripMargin

  private val bpeOraclePairs: String => String = (st: String) =>
    s"""(SELECT pr, sum(c) AS cnt FROM (
       |  SELECT b.c, b.syms[g] || ' ' || b.syms[g + 1] AS pr
       |  FROM (SELECT c, string_split(trim(s), ' ') AS syms FROM $st) b,
       |    UNNEST(generate_series(1, len(b.syms) - 1)) AS u(g))
       |GROUP BY pr)""".stripMargin

  private[queries] def bpeOracleSql: String =
    bpeRounds(bpeOracleWords, bpeOraclePairs)

  // ---------------------------------------------------------------------
  // llm_dp_histogram
  // ---------------------------------------------------------------------

  /** ε=1 Laplace-mechanism release of the language histogram. The
    * uniform comes from the first 16 bits of md5(lang) shifted onto
    * odd lattice points ((2k+1)/2¹⁷ — never exactly ½, so sign() is
    * total), the noise via the inverse CDF −b·sgn(u−½)·ln(1−2|u−½|).
    * md5 is bit-identical across engines, so the MECHANISM is graded,
    * not a pseudo-random stand-in. Shape: one bounded-key census plus
    * scalar arithmetic — free at any scale. (A real deployment keys
    * the noise on a per-release secret; the md5-of-key draw here
    * stands in for the sampler, not the privacy accounting.) */
  private def dpHistogramSql(documents: String): String =
    s"""WITH g AS (SELECT lang, count(*) AS n FROM $documents GROUP BY lang),
       |h AS (SELECT lang, n,
       |        ((instr('0123456789abcdef', substr(md5(lang), 1, 1)) - 1) * 4096
       |       + (instr('0123456789abcdef', substr(md5(lang), 2, 1)) - 1) * 256
       |       + (instr('0123456789abcdef', substr(md5(lang), 3, 1)) - 1) * 16
       |       + (instr('0123456789abcdef', substr(md5(lang), 4, 1)) - 1)) AS u16
       |      FROM g),
       |u AS (SELECT lang, n, (u16 * 2.0 + 1.0) / 131072.0 AS uu FROM h)
       |SELECT lang, CAST(n AS BIGINT) AS true_count,
       |  CAST(n AS DOUBLE)
       |    - sign(uu - 0.5) * ln(1.0 - 2.0 * abs(uu - 0.5)) AS noisy_count,
       |  1.0 AS epsilon
       |FROM u""".stripMargin

  def llmDpHistogram(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "documents").createOrReplaceTempView("graft_dp_docs")
    s.sql(dpHistogramSql("graft_dp_docs"))
  }

  // ---------------------------------------------------------------------
  // graph_adamic_adar
  // ---------------------------------------------------------------------

  /** Link prediction on the thresholded nation trade graph
    * ([[Analytics11.graphKcore]]'s edge rule): for every non-adjacent
    * pair with ≥1 common neighbor, the common-neighbor count, Jaccard
    * coefficient, and Adamic-Adar score Σ_z 1/ln(deg z). The AA terms
    * are quantized to round(10⁶/ln(deg)) BIGINT before summing — the
    * sum is then order-free integer arithmetic, and the nearest
    * fraction boundary across deg ∈ [2, 30] sits 0.018 away while the
    * libm ulp spread is ~1e-10, so both engines quantize identically.
    * deg(z) ≥ 2 for any common neighbor, so ln never sees 1. Scale:
    * the 4-table star runs once; candidate generation is a self-join
    * of the ≤|nations|² symmetric edge relation. `mat` injects
    * DuckDB's MATERIALIZED on the multi-referenced CTEs — without it
    * the planner re-expands the 4-table star per reference and the
    * sym×sym self-join becomes star×star (the round-9 graph-oracle
    * spill lesson); Spark has no such keyword and caches via the
    * temp-view plan as usual. */
  private def aaEdgesSql(li: String, ord: String, cust: String,
      supp: String, mat: String): String =
    s"""WITH pair AS $mat(
       |  SELECT c.c_nationkey AS na, s.s_nationkey AS nb, count(*) AS cnt
       |  FROM $li l
       |    JOIN $ord o ON l.l_orderkey = o.o_orderkey
       |    JOIN $cust c ON o.o_custkey = c.c_custkey
       |    JOIN $supp s ON l.l_suppkey = s.s_suppkey
       |  WHERE c.c_nationkey <> s.s_nationkey
       |  GROUP BY 1, 2),
       |und AS $mat(SELECT least(na, nb) AS a, greatest(na, nb) AS b,
       |          sum(cnt) AS cnt
       |        FROM pair GROUP BY 1, 2),
       |tot AS (SELECT sum(cnt) AS t, count(*) AS np FROM und)
       |SELECT a, b FROM und CROSS JOIN tot
       |WHERE cnt * np * 100 > 115 * t""".stripMargin

  private def aaScoreSql(edges: String, nat: String, mat: String): String =
    s"""WITH sym AS $mat(SELECT a AS src, b AS dst FROM $edges
       |        UNION ALL SELECT b, a FROM $edges),
       |deg AS (SELECT src, count(*) AS dg FROM sym GROUP BY src),
       |p2 AS (SELECT s1.src AS a, s2.dst AS b, s1.dst AS z
       |       FROM sym s1 JOIN sym s2 ON s2.src = s1.dst
       |       WHERE s1.src < s2.dst),
       |scored AS (SELECT a, b, count(*) AS common,
       |             sum(CAST(round(1000000.0 / ln(d.dg)) AS BIGINT))
       |               AS aa_scaled
       |           FROM p2 JOIN deg d ON d.src = p2.z GROUP BY a, b),
       |nonedge AS (SELECT sc.a, sc.b, sc.common, sc.aa_scaled
       |            FROM scored sc LEFT JOIN $edges e
       |              ON e.a = sc.a AND e.b = sc.b
       |            WHERE e.a IS NULL)
       |SELECT na.n_name AS nation_a, nb.n_name AS nation_b,
       |  CAST(ne.common AS BIGINT) AS common_neighbors,
       |  CAST(ne.common AS DOUBLE) / (da.dg + db.dg - ne.common) AS jaccard,
       |  CAST(ne.aa_scaled AS DOUBLE) / 1000000.0 AS adamic_adar
       |FROM nonedge ne
       |  JOIN deg da ON da.src = ne.a JOIN deg db ON db.src = ne.b
       |  JOIN $nat na ON na.n_nationkey = ne.a
       |  JOIN $nat nb ON nb.n_nationkey = ne.b""".stripMargin

  def graphAdamicAdar(s: SparkSession, dir: String): DataFrame = {
    Seq("lineitem", "orders", "customer", "supplier", "nation")
      .foreach(n => t(s, dir, n).createOrReplaceTempView("graft_aa_" + n))
    // The 4-table star runs ONCE: the thresholded edge list (≤|nations|²
    // rows) is collapsed and checkpointed, exactly as in the rest of the
    // graph family — sym/p2/nonedge reference it five times and an
    // inlined plan would re-run the star per reference.
    s.sql(aaEdgesSql("graft_aa_lineitem", "graft_aa_orders",
        "graft_aa_customer", "graft_aa_supplier", ""))
      .coalesce(1)
      .tappedLocalCheckpoint()
      .createOrReplaceTempView("graft_aa_edges")
    s.sql(aaScoreSql("graft_aa_edges", "graft_aa_nation", ""))
  }

  // ---------------------------------------------------------------------
  // sql_pipe_syntax
  // ---------------------------------------------------------------------

  /** Spark 4 SQL pipe syntax (SPARK-49555): the revenue-by-priority
    * aggregation spelled as a `|>` chain (WHERE → EXTEND → AGGREGATE
    * … GROUP BY → SELECT), graded against the plain ANSI equivalent.
    * Purely a parser surface — the optimized plan is the same
    * scan→filter→aggregate Catalyst produces for the ANSI text. */
  def sqlPipeSyntax(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("graft_pipe_orders")
    s.sql(
      """FROM graft_pipe_orders
        ||> WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        ||> EXTEND CAST(o_totalprice AS DECIMAL(18,2)) AS price
        ||> AGGREGATE COUNT(*) AS n_orders,
        |     CAST(SUM(price) AS DOUBLE) AS revenue
        |   GROUP BY o_orderpriority
        ||> SELECT o_orderpriority AS priority, n_orders, revenue""".stripMargin)
  }

  // ---------------------------------------------------------------------
  // scan_metadata_cols
  // ---------------------------------------------------------------------

  /** Hidden `_metadata` file-columns audit. Orders land in a
    * value-partitioned layout (bkt = o_orderkey % 4, repartitioned by
    * bkt so each value writes exactly ONE file), then the audit reads
    * the bucket back OUT OF `_metadata.file_path` — not the data —
    * and checks one-file-per-partition via
    * count(distinct `_metadata.file_name`). The oracle reproduces the
    * same census semantically from the base table, pinning that the
    * file-system-derived grouping equals the value-derived one. */
  def scanMetadataCols(s: SparkSession, dir: String): DataFrame = {
    val path = graft.core.ScratchDirs.path(s, "graft_meta_orders", dir)
    val laid = t(s, dir, "orders")
      .withColumn("bkt", pmod(col("o_orderkey"), lit(4)).cast("int"))
      .repartition(4, col("bkt"))
    laid.write.mode("overwrite").partitionBy("bkt").parquet(path)
    // Explicit schema: a partitioned write of ZERO rows emits no data
    // files, and schema inference over an empty layout throws — the
    // "partition pruned everything" path must stay alive.
    s.read.schema(laid.schema).parquet(path)
      .select(col("o_orderkey"), col("o_totalprice"),
        regexp_extract(col("_metadata.file_path"), "bkt=(\\d+)", 1)
          .cast("int").as("bkt"),
        col("_metadata.file_name").as("fn"))
      .groupBy("bkt")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("fn")).as("n_files"),
        min("o_orderkey").as("min_key"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("revenue"))
      .select(col("bkt"), col("n_rows"), col("n_files"), col("min_key"),
        col("revenue"))
  }

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("win_rolling_beta", winRollingBeta,
      s"WITH monthly AS (${monthlySql("orders")}),\n" +
        rollingBetaRestSql("monthly").replaceFirst("^WITH ", "")),
    QueryDef("agg_vol_estimators", aggVolEstimators,
      volEstimatorsSql("events")),
    QueryDef("agg_cointegration", aggCointegration,
      s"WITH daily AS (${cointDailySql("orders")}),\n" +
        cointRestSql("daily").replaceFirst("^WITH ", "")),
    QueryDef("agg_pacf", aggPacf,
      s"WITH daily AS (${acfDailySql("events")}),\n" +
        pacfSql("daily", "a.d - CAST(l.lag AS INTEGER)")
          .replaceFirst("^WITH ", "")),
    QueryDef("agg_ljung_box", aggLjungBox,
      s"WITH daily AS (${acfDailySql("events")}),\n" +
        ljungBoxSql("daily", "a.d - CAST(l.lag AS INTEGER)")
          .replaceFirst("^WITH ", "")),
    QueryDef("llm_bpe_train", llmBpeTrain, bpeOracleSql),
    QueryDef("llm_dp_histogram", llmDpHistogram, dpHistogramSql("documents")),
    // The edges subquery keeps its own WITH clause nested inside the
    // outer CTE body (both engines allow a full statement there).
    QueryDef("graph_adamic_adar", graphAdamicAdar,
      s"WITH edges AS MATERIALIZED (\n${aaEdgesSql("lineitem", "orders",
          "customer", "supplier", "MATERIALIZED ")}\n),\n" +
        aaScoreSql("edges", "nation", "MATERIALIZED ")
          .replaceFirst("^WITH ", "")),
    QueryDef("sql_pipe_syntax", sqlPipeSyntax,
      """SELECT o_orderpriority AS priority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY o_orderpriority""".stripMargin),
    QueryDef("scan_metadata_cols", scanMetadataCols,
      """SELECT CAST(o_orderkey % 4 AS INT) AS bkt,
        |  COUNT(*) AS n_rows, CAST(1 AS BIGINT) AS n_files,
        |  MIN(o_orderkey) AS min_key,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY 1""".stripMargin))
}
