package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables
import graft.core.CkptTap._

/** Round-9 widening, sixth batch: the stock-domain technical
  * indicators the reference's warehouse consumers would compute over
  * its price table (RSI, Bollinger bands, maximum drawdown — cf.
  * stock_data_scraper.py's price/volume schema), a Wald-Wolfowitz
  * runs test of the daily revenue series, and the first BPE training
  * iteration (adjacent-pair frequency census) for the LLM pipeline.
  *
  * Determinism policy:
  *   - `win_drawdown` keeps the running equity curve in
  *     DECIMAL(38,18) window sums — running totals, peaks and
  *     drawdowns are EXACT on both engines; only the final emits cast
  *     to double.
  *   - `win_rsi` / `win_bollinger` use finite ROWS frames over
  *     doubles; Spark re-aggregates each frame left-to-right while
  *     DuckDB merges a segment tree, so sums can differ at ~1e-13 —
  *     absorbed by the harness's 6-decimal round on O(100)-magnitude
  *     outputs (same contract as events_acf's corr tail).
  *   - `agg_runs_test` is integer (sign runs, counts) until the final
  *     z; the median cut uses the explicit-middle rule under integer
  *     division.
  *   - `llm_bpe_pairs` is integer counts with a (count desc, pair)
  *     total-order tiebreak.
  */
object Analytics7 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private def eventsView(s: SparkSession, dir: String, name: String): Unit =
    t(s, dir, "events").createOrReplaceTempView(name)

  /** 14-period SMA RSI of each user's event-value series: mean gain /
    * mean loss over the trailing 14 diffs, RSI = 100 − 100/(1+RS);
    * all-gain windows pin to 100. Emitted from the 15th observation
    * (first full window). One shuffle on user_id; the frames run
    * inside each partition. */
  def winRsi(s: SparkSession, dir: String): DataFrame = {
    eventsView(s, dir, "graft_rsi_events")
    s.sql(rsiSql("graft_rsi_events"))
  }

  private def rsiSql(table: String): String =
    s"""WITH d AS (SELECT user_id, event_id,
       |             value - lag(value) OVER
       |               (PARTITION BY user_id ORDER BY ts, event_id) AS diff,
       |             row_number() OVER
       |               (PARTITION BY user_id ORDER BY ts, event_id) AS rn
       |           FROM $table),
       |g AS (SELECT user_id, event_id, rn,
       |        avg(greatest(diff, 0.0)) OVER
       |          (PARTITION BY user_id ORDER BY rn
       |           ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS ag,
       |        avg(greatest(-diff, 0.0)) OVER
       |          (PARTITION BY user_id ORDER BY rn
       |           ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS al
       |      FROM d WHERE diff IS NOT NULL)
       |SELECT user_id, event_id,
       |       CASE WHEN al = 0.0 THEN 100.0
       |            ELSE 100.0 - 100.0 / (1.0 + ag / al) END AS rsi14
       |FROM g WHERE rn >= 15""".stripMargin

  /** 20-period Bollinger bands (SMA ± 2·sample-stddev) with %B
    * position. Emitted from the 20th observation; degenerate
    * zero-width bands emit %B = 0.5. */
  def winBollinger(s: SparkSession, dir: String): DataFrame = {
    eventsView(s, dir, "graft_bb_events")
    s.sql(bollingerSql("graft_bb_events"))
  }

  private def bollingerSql(table: String): String =
    s"""WITH r AS (SELECT user_id, event_id, value,
       |             row_number() OVER
       |               (PARTITION BY user_id ORDER BY ts, event_id) AS rn
       |           FROM $table),
       |b AS (SELECT user_id, event_id, value, rn,
       |        avg(value) OVER
       |          (PARTITION BY user_id ORDER BY rn
       |           ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS mid,
       |        stddev_samp(value) OVER
       |          (PARTITION BY user_id ORDER BY rn
       |           ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS sd
       |      FROM r)
       |SELECT user_id, event_id, mid AS bb_mid,
       |       mid + 2.0 * sd AS bb_up, mid - 2.0 * sd AS bb_dn,
       |       CASE WHEN sd = 0.0 THEN 0.5
       |            ELSE (value - (mid - 2.0 * sd)) / (4.0 * sd) END AS bb_pctb
       |FROM b WHERE rn >= 20""".stripMargin

  /** Maximum drawdown of each user's synthetic P&L curve (per-event
    * P&L = value − 50, a mixed-sign series on this fixture; on a real
    * price table the diffs would be the P&L): running DECIMAL(18,2)
    * total, running peak, and the largest peak-to-trough drop — the
    * risk statistic every stock dashboard reports. Exact: every
    * intermediate stays decimal (running window sums in decimal are
    * order-pinned by the frame), so all emitted columns are
    * bit-identical across engines after the final double cast. */
  def winDrawdown(s: SparkSession, dir: String): DataFrame = {
    eventsView(s, dir, "graft_dd_events")
    s.sql(drawdownSql("graft_dd_events"))
  }

  private def drawdownSql(table: String): String =
    s"""WITH c AS (SELECT user_id,
       |             row_number() OVER
       |               (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
       |             sum(CAST(value - 50.0 AS DECIMAL(18, 2))) OVER
       |               (PARTITION BY user_id ORDER BY ts, event_id
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |           FROM $table),
       |p AS (SELECT user_id, rn, cum,
       |        max(cum) OVER (PARTITION BY user_id ORDER BY rn
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
       |      FROM c)
       |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       |       CAST(max_by(cum, rn) AS DOUBLE) AS total_end,
       |       CAST(max(peak) AS DOUBLE) AS peak_max,
       |       CAST(max(peak - cum) AS DOUBLE) AS max_drawdown
       |FROM p GROUP BY user_id""".stripMargin

  /** Wald-Wolfowitz runs test of the daily revenue series against its
    * median: is above/below-median an i.i.d. coin, or trending? Sign
    * runs and counts stay integer; the normal-approximation z is the
    * single floating step. Ties at the exact median are excluded
    * (the standard rule); the median uses the explicit-middle pick.
    * The daily relation is checkpointed — the median cut and the run
    * count both read it. */
  def aggRunsTest(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("graft_rt_orders")
    s.sql(
      """SELECT CAST(o_orderdate AS DATE) AS d,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18, 2))) AS DOUBLE) AS y
        |FROM graft_rt_orders GROUP BY 1""".stripMargin)
      .tappedLocalCheckpoint()
      .createOrReplaceTempView("graft_rt_daily")
    s.sql("WITH " + runsCensus("graft_rt_daily", "div"))
  }

  private def runsCensus(daily: String, intdiv: String): String =
    s"""r AS (SELECT y, d, row_number() OVER (ORDER BY y) AS rn,
       |             count(*) OVER () AS nd FROM $daily),
       |med AS (SELECT avg(y) AS med FROM r
       |        WHERE rn IN (CAST((nd + 1) $intdiv 2 AS BIGINT),
       |                     CAST((nd + 2) $intdiv 2 AS BIGINT))),
       |sgn AS (SELECT d, CASE WHEN y > med THEN 1 ELSE 0 END AS up
       |        FROM $daily CROSS JOIN med WHERE y <> med),
       |ch AS (SELECT up, CASE WHEN lag(up) OVER (ORDER BY d) IS NULL THEN 1
       |                       WHEN lag(up) OVER (ORDER BY d) <> up THEN 1
       |                       ELSE 0 END AS chg
       |       FROM sgn),
       |t AS (SELECT sum(chg) AS runs, sum(up) AS n1,
       |             count(*) - sum(up) AS n2 FROM ch)
       |SELECT CAST(runs AS BIGINT) AS n_runs, CAST(n1 AS BIGINT) AS n_above,
       |       CAST(n2 AS BIGINT) AS n_below,
       |       CASE WHEN n1 = 0 OR n2 = 0 THEN NULL
       |            ELSE (runs - (2.0 * n1 * n2 / (n1 + n2) + 1.0))
       |              / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
       |                     / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))) END AS runs_z
       |FROM t""".stripMargin

  /** The first BPE training iteration over the corpus: the 20 most
    * frequent ADJACENT token pairs (merge candidates), with a
    * (count desc, pair asc) total order. Pairs are built inside the
    * row (zip of the token array with its tail), then one
    * map-side-combined count — the exact shape of a distributed BPE
    * trainer's census step at 100 TB. */
  def llmBpePairs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(split(col("text"), " ").as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(ts) - 1),
          |  i -> concat(element_at(ts, i), ' ', element_at(ts, i + 1)))"""
          .stripMargin)).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("pair"))).cast("long"))
      .filter(col("rnk") <= 20)
      .select(col("rnk"), col("pair"), col("cnt"))

  val queries: Seq[QueryDef] = Seq(
    QueryDef("win_rsi", winRsi, rsiSql("events")),
    QueryDef("win_bollinger", winBollinger, bollingerSql("events")),
    QueryDef("win_drawdown", winDrawdown, drawdownSql("events")),
    QueryDef("agg_runs_test", aggRunsTest,
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
         |                 CAST(sum(CAST(o_totalprice AS DECIMAL(18, 2))) AS DOUBLE) AS y
         |               FROM orders GROUP BY 1),
         |""".stripMargin + runsCensus("daily", "//")),
    QueryDef("llm_bpe_pairs", llmBpePairs,
      """WITH t AS (SELECT string_split(text, ' ') AS ts FROM documents
        |           WHERE len(string_split(text, ' ')) >= 2),
        |p AS (SELECT unnest(list_transform(range(1, len(ts)),
        |               i -> ts[i] || ' ' || ts[i + 1])) AS pair FROM t),
        |c AS (SELECT pair, count(*) AS cnt FROM p GROUP BY pair),
        |r AS (SELECT row_number() OVER (ORDER BY cnt DESC, pair) AS rnk,
        |             pair, cnt FROM c)
        |SELECT CAST(rnk AS BIGINT) AS rnk, pair, CAST(cnt AS BIGINT) AS cnt
        |FROM r WHERE rnk <= 20""".stripMargin))
}
