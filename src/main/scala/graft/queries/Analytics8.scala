package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables
import graft.core.CkptTap._

/** Round-9 widening, seventh batch: model-based data curation
  * (logistic quality scoring, DSIR importance weights) and two more
  * stock-domain statistics (Sharpe ratio, day-of-week seasonality).
  *
  * Determinism policy:
  *   - `llm_quality_logit`'s features are integer ratios (token,
  *     distinct-token, stopword counts; character arithmetic), so the
  *     logit z is one fixed-order double expression per doc; the
  *     sigmoid's exp() differs by ≤1 ulp between engines on O(1)
  *     inputs — absorbed at round-6 (the transcendental contract from
  *     the r8 rounding audit).
  *   - `llm_dsir_weights` keeps all corpus counts integer; each
  *     token's log-ratio is computed once from integers, and the
  *     per-doc sum of ~60 O(1) terms carries ulp-level merge drift
  *     only.
  *   - `win_sharpe` rides the same DECIMAL(38,18) P&L sums as
  *     win_drawdown (Σx and Σx² exact; two final divisions).
  *   - `agg_seasonality` pins daily sums AND the day-of-week
  *     re-aggregation through DECIMAL; the dow keys align Spark's
  *     1-based dayofweek (Sunday=1) to DuckDB's 0-based by
  *     subtracting 1 on the Spark side.
  */
object Analytics8 {

  /** Fasttext-style quality classifier INFERENCE with fixed weights
    * over engineered features — the model-based filter stage of a
    * curation pipeline (cf. CCNet/DSIR): z = −1.5 + 0.02·words
    * + 1.8·uniqRatio − 2.5·stopRatio − 0.1·meanWordLen, score =
    * σ(z), keep at score ≥ 0.5. Pure projection; every feature is a
    * ratio of integers. */
  def llmQualityLogit(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"), split(col("text"), " ").as("ts"))
      .select(col("doc_id"),
        size(col("ts")).cast("long").as("n_words"),
        size(array_distinct(col("ts"))).cast("long").as("n_uniq"),
        size(expr("filter(ts, t -> t = 'the' OR t = 'a')")).cast("long")
          .as("n_stop"),
        ((col("n_chars") - (size(col("ts")) - 1)).cast("double")
          / size(col("ts"))).as("mean_word_len"))
      .select(col("doc_id"), col("n_words"),
        (col("n_uniq").cast("double") / col("n_words")).as("uniq_ratio"),
        (col("n_stop").cast("double") / col("n_words")).as("stop_ratio"),
        col("mean_word_len"))
      .withColumn("quality_logit",
        lit(-1.5) + lit(0.02) * col("n_words")
          + lit(1.8) * col("uniq_ratio") - lit(2.5) * col("stop_ratio")
          - lit(0.1) * col("mean_word_len"))
      .withColumn("quality_score",
        lit(1.0) / (lit(1.0) + exp(-col("quality_logit"))))
      .withColumn("keep", col("quality_score") >= 0.5)

  /** DSIR-shaped importance weights (Xie et al. 2023): per-doc
    * log-likelihood ratio between an add-1-smoothed unigram model of
    * the TARGET slice (lang='en') and one of the full corpus. The
    * token table is exploded once and checkpointed (three readers:
    * target counts, corpus counts, per-doc scoring); the per-token
    * log-ratio relation is |vocab|-sized and joins back by token —
    * the probe-side shape that scales to a 100 TB corpus. Emits the
    * raw log weight (exp would overflow on long docs). */
  def llmDsirWeights(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("tok"))
      .tappedLocalCheckpoint()
    Tables.sql(s, dir, dsirCensus("graft_dsir_toks"), "graft_dsir_toks" -> toks)
  }

  private def dsirCensus(toks: String): String =
    s"""WITH tc AS (SELECT tok, count(*) AS c_all,
       |              sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_tgt
       |            FROM $toks GROUP BY tok),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS v,
       |               CAST(sum(c_all) AS BIGINT) AS n_all,
       |               CAST(sum(c_tgt) AS BIGINT) AS n_tgt FROM tc),
       |lr AS (SELECT tok,
       |         ln((CAST(c_tgt AS DOUBLE) + 1.0) / (n_tgt + v))
       |           - ln((CAST(c_all AS DOUBLE) + 1.0) / (n_all + v)) AS llr
       |       FROM tc CROSS JOIN tot)
       |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |       sum(lr.llr) AS log_weight
       |FROM $toks t JOIN lr ON lr.tok = t.tok
       |GROUP BY t.doc_id""".stripMargin

  private def sharpeSql(table: String): String =
    s"""WITH g AS (SELECT user_id, count(*) AS n,
       |             CAST(sum(CAST(value - 50.0 AS DECIMAL(18, 2))) AS DOUBLE) AS sx,
       |             CAST(sum(CAST((value - 50.0) * (value - 50.0)
       |                           AS DECIMAL(18, 4))) AS DOUBLE) AS sxx
       |           FROM $table GROUP BY user_id)
       |SELECT user_id, CAST(n AS BIGINT) AS n_events, sx / n AS pnl_mean,
       |  sqrt(greatest((sxx - sx * sx / n) / (n - 1), 0.0)) AS pnl_std,
       |  CASE WHEN sqrt(greatest((sxx - sx * sx / n) / (n - 1), 0.0)) = 0.0
       |       THEN NULL
       |       ELSE (sx / n) / sqrt(greatest((sxx - sx * sx / n) / (n - 1), 0.0))
       |         * sqrt(252.0) END AS sharpe
       |FROM g WHERE n >= 2""".stripMargin

  /** Day-of-week seasonality of order revenue: per-dow mean daily
    * revenue and its index against the overall mean. Daily sums and
    * the dow re-aggregation both ride DECIMAL; the checkpointed daily
    * relation feeds the dow census and the grand total. Spark's
    * dayofweek is 1-based (Sunday=1); −1 aligns it to DuckDB's. */
  def aggSeasonality(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.sql(s, dir,
      """SELECT dayofweek(CAST(o_orderdate AS DATE)) - 1 AS dow,
        |       sum(CAST(o_totalprice AS DECIMAL(18, 2))) AS y
        |FROM orders GROUP BY CAST(o_orderdate AS DATE)""".stripMargin)
      .tappedLocalCheckpoint()
    Tables.sql(s, dir, seasonCensus("graft_se_daily"), "graft_se_daily" -> daily)
  }

  private def seasonCensus(daily: String): String =
    s"""WITH g AS (SELECT dow, count(*) AS n_days, sum(y) AS s
       |           FROM $daily GROUP BY dow),
       |t AS (SELECT sum(n_days) AS nt, sum(s) AS st FROM g)
       |SELECT CAST(g.dow AS INT) AS dow, CAST(g.n_days AS BIGINT) AS n_days,
       |       CAST(g.s AS DOUBLE) / g.n_days AS avg_daily_rev,
       |       (CAST(g.s AS DOUBLE) / g.n_days)
       |         / (CAST(t.st AS DOUBLE) / t.nt) AS seasonality_idx
       |FROM g CROSS JOIN t""".stripMargin

  val queries: Seq[QueryDef] = Seq(
    QueryDef("llm_quality_logit", llmQualityLogit,
      """WITH d AS (SELECT doc_id, n_chars, string_split(text, ' ') AS ts
        |           FROM documents),
        |f AS (SELECT doc_id,
        |        CAST(len(ts) AS BIGINT) AS n_words,
        |        CAST(len(list_distinct(ts)) AS BIGINT) AS n_uniq,
        |        CAST(len(list_filter(ts, t -> t = 'the' OR t = 'a')) AS BIGINT) AS n_stop,
        |        CAST(n_chars - (len(ts) - 1) AS DOUBLE) / len(ts) AS mean_word_len
        |      FROM d),
        |z AS (SELECT doc_id, n_words,
        |        CAST(n_uniq AS DOUBLE) / n_words AS uniq_ratio,
        |        CAST(n_stop AS DOUBLE) / n_words AS stop_ratio,
        |        mean_word_len
        |      FROM f)
        |SELECT doc_id, n_words, uniq_ratio, stop_ratio, mean_word_len,
        |       -1.5 + 0.02 * n_words + 1.8 * uniq_ratio - 2.5 * stop_ratio
        |         - 0.1 * mean_word_len AS quality_logit,
        |       1.0 / (1.0 + exp(-(-1.5 + 0.02 * n_words + 1.8 * uniq_ratio
        |         - 2.5 * stop_ratio - 0.1 * mean_word_len))) AS quality_score,
        |       1.0 / (1.0 + exp(-(-1.5 + 0.02 * n_words + 1.8 * uniq_ratio
        |         - 2.5 * stop_ratio - 0.1 * mean_word_len))) >= 0.5 AS keep
        |FROM z""".stripMargin),
    QueryDef("llm_dsir_weights", llmDsirWeights,
      """WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
         |              FROM documents),
         |""".stripMargin +
        dsirCensus("toks").replaceFirst("WITH ", "")),
    // Per-user annualized Sharpe ratio of the synthetic P&L series
    // (value − 50, the win_drawdown curve): mean/std from exact
    // DECIMAL Σx and Σx², √252 annualization. One map-side-combined
    // pass.
    //
    // Scale choice is load-bearing: the P&L is a 2-decimal rational
    // and its square a 4-decimal one, so DECIMAL(18,2)/(18,4) keeps
    // every UNSCALED sum below 2^53 — where both engines' decimal→
    // double casts are exact. At scale 18 DuckDB's cast (int128 ×
    // 10⁻¹⁸ in floating point) can sit one ulp off Spark's
    // correctly-rounded BigDecimal path, and this query's means
    // (exact cents / 2^k counts) land EXACTLY on 6-decimal midpoints,
    // where one ulp flips the harness round — observed on 6/1500 rows
    // at sf0.1 before the scale was narrowed.
    QueryDef.sql("win_sharpe", sharpeSql("events")),
    QueryDef("agg_seasonality", aggSeasonality,
      """WITH daily AS (SELECT dayofweek(CAST(o_orderdate AS DATE)) AS dow,
         |                 sum(CAST(o_totalprice AS DECIMAL(18, 2))) AS y
         |               FROM orders GROUP BY CAST(o_orderdate AS DATE)),
         |""".stripMargin +
        seasonCensus("daily").replaceFirst("WITH ", "")))
}
