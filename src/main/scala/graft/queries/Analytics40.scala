package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables

/** Round-11 batch T: the remaining classic technical-indicator
  * spellings over the per-user event-value series.
  *
  *  - `win_aroon` — Aroon(25) up/down/oscillator: bars-since-extreme
  *    inside a 25-row frame. "Position of the frame max" is a
  *    second-order frame statistic (like `win_cci`'s MAD), solved the
  *    same way: frame max/min via plain windows, then a bounded band
  *    self-join restricted to rows EQUALING the extreme to recover
  *    the most recent such position.
  *  - `win_williams_r` — Williams %R(14); pure finite-frame windows.
  *  - `win_mfi` — Money Flow Index(14) with a deterministic synthetic
  *    volume (`event_id % 97 + 1` — events carry no volume column);
  *    up/down money-flow split by the lagged value.
  *  - `win_trix` — TRIX(5): triple-chained EMA fold per user with the
  *    previous triple-EMA carried in the fold state; emits the final
  *    one-period rate of change. Fold determinism contract as in
  *    [[Analytics31]] (SAR/Renko): identical IEEE replay via
  *    `aggregate` on the Spark side and a recursive CTE in DuckDB.
  *
  * EMA α is spelled `(x − e)/3.0` (double ÷ decimal literal → double
  * on both engines). Never `1.0/3.0`: bare decimal-literal division
  * is DECIMAL(2,1) arithmetic in Spark (scale-6 truncation) but
  * double in DuckDB — the `agg_newey_west` Bartlett-weight lesson.
  *
  * Frame sums/extrema of doubles can differ at ~1e-13 between Spark's
  * left-to-right frame re-aggregation and DuckDB's segment tree —
  * absorbed by the harness round(6) on O(100)-magnitude outputs (the
  * `win_rsi` contract). Aroon outputs are exact multiples of 4 (see
  * scaladoc) so they have no rounding surface at all.
  */
object Analytics40 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---------------------------------------------------------------------
  // win_aroon
  // ---------------------------------------------------------------------

  /** Aroon(25): up = 100·(25 − bars since highest high)/25, down the
    * same on the lowest low, both over the 25-row frame ending at the
    * current row; tie = the MOST RECENT row attaining the extreme
    * (max rn — pinned identically in both engines by `max(CASE …)`).
    * Since bars-since ∈ [0,24], up/down = 4·(25 − d): exact small
    * integers in double — no rounding surface. The band join is a
    * fixed ≤25× blowup, partition-local after the one user_id
    * shuffle (the `win_cci` pattern). */
  private def aroonSql(events: String): String =
    s"""r AS (SELECT user_id, event_id, value AS v,
       |        row_number() OVER (PARTITION BY user_id
       |          ORDER BY ts, event_id) AS rn
       |      FROM $events),
       |m AS (SELECT user_id, event_id, rn, v,
       |        max(v) OVER (PARTITION BY user_id ORDER BY rn
       |          ROWS BETWEEN 24 PRECEDING AND CURRENT ROW) AS hi,
       |        min(v) OVER (PARTITION BY user_id ORDER BY rn
       |          ROWS BETWEEN 24 PRECEDING AND CURRENT ROW) AS lo
       |      FROM r),
       |d AS (SELECT m.user_id, m.event_id, m.rn,
       |        max(CASE WHEN r.v = m.hi THEN r.rn END) AS hi_rn,
       |        max(CASE WHEN r.v = m.lo THEN r.rn END) AS lo_rn
       |      FROM m JOIN r ON r.user_id = m.user_id
       |        AND r.rn BETWEEN m.rn - 24 AND m.rn
       |        AND (r.v = m.hi OR r.v = m.lo)
       |      WHERE m.rn >= 25
       |      GROUP BY m.user_id, m.event_id, m.rn)
       |SELECT user_id, event_id,
       |  4.0 * CAST(25 - (rn - hi_rn) AS DOUBLE) AS aroon_up,
       |  4.0 * CAST(25 - (rn - lo_rn) AS DOUBLE) AS aroon_dn,
       |  4.0 * CAST(25 - (rn - hi_rn) AS DOUBLE)
       |    - 4.0 * CAST(25 - (rn - lo_rn) AS DOUBLE) AS aroon_osc
       |FROM d""".stripMargin

  def winAroon(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events").createOrReplaceTempView("graft_aroon_events")
    s.sql("WITH " + aroonSql("graft_aroon_events"))
  }

  // ---------------------------------------------------------------------
  // win_williams_r
  // ---------------------------------------------------------------------

  /** Williams %R(14) = −100·(HH − v)/(HH − LL) over the 14-row frame;
    * NULL on a flat frame (HH = LL). Emitted from the first full
    * frame. One user_id shuffle; both extrema share the sort. */
  private def williamsSql(events: String): String =
    s"""r AS (SELECT user_id, event_id, value AS v,
       |        row_number() OVER (PARTITION BY user_id
       |          ORDER BY ts, event_id) AS rn
       |      FROM $events),
       |m AS (SELECT user_id, event_id, rn, v,
       |        max(v) OVER (PARTITION BY user_id ORDER BY rn
       |          ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS hh,
       |        min(v) OVER (PARTITION BY user_id ORDER BY rn
       |          ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS ll
       |      FROM r)
       |SELECT user_id, event_id, hh, ll,
       |  CASE WHEN hh > ll THEN -100.0 * (hh - v) / (hh - ll) END
       |    AS williams_r
       |FROM m WHERE rn >= 14""".stripMargin

  def winWilliamsR(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events").createOrReplaceTempView("graft_wr_events")
    s.sql("WITH " + williamsSql("graft_wr_events"))
  }

  // ---------------------------------------------------------------------
  // win_mfi
  // ---------------------------------------------------------------------

  /** MFI(14) over money flow v·vol with vol = event_id % 97 + 1
    * (deterministic synthetic volume). Flow is positive when v rose
    * vs the lagged value, negative when it fell, dropped on a tie
    * (standard). All-negative-zero frames pin MFI = 100 (the
    * textbook no-selling-pressure convention); a frame with zero
    * flow both ways is NULL. Emitted once the lag exists AND the
    * 14-frame is full (rn ≥ 15). */
  private def mfiSql(events: String): String =
    s"""r AS (SELECT user_id, event_id, value AS v,
       |        CAST(event_id % 97 + 1 AS DOUBLE) AS vol,
       |        lag(value) OVER (PARTITION BY user_id
       |          ORDER BY ts, event_id) AS pv,
       |        row_number() OVER (PARTITION BY user_id
       |          ORDER BY ts, event_id) AS rn
       |      FROM $events),
       |f AS (SELECT user_id, event_id, rn,
       |        CASE WHEN v > pv THEN v * vol ELSE 0.0 END AS up_mf,
       |        CASE WHEN v < pv THEN v * vol ELSE 0.0 END AS dn_mf
       |      FROM r WHERE pv IS NOT NULL),
       |w AS (SELECT user_id, event_id, rn,
       |        sum(up_mf) OVER (PARTITION BY user_id ORDER BY rn
       |          ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS pos_mf,
       |        sum(dn_mf) OVER (PARTITION BY user_id ORDER BY rn
       |          ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS neg_mf
       |      FROM f)
       |SELECT user_id, event_id, pos_mf, neg_mf,
       |  CASE WHEN neg_mf > 0.0
       |         THEN 100.0 - 100.0 / (1.0 + pos_mf / neg_mf)
       |       WHEN pos_mf > 0.0 THEN 100.0 END AS mfi
       |FROM w WHERE rn >= 15""".stripMargin

  def winMfi(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events").createOrReplaceTempView("graft_mfi_events")
    s.sql("WITH " + mfiSql("graft_mfi_events"))
  }

  // ---------------------------------------------------------------------
  // win_trix
  // ---------------------------------------------------------------------

  /** One TRIX(5) fold step over accessor names, shared verbatim by
    * the Spark lambda and the DuckDB recursion. Chained EMAs: each
    * next-stage input is the JUST-updated previous stage (inlined —
    * same bits, both engines); `p3` carries the pre-update e3 so the
    * final row can emit the one-period rate of change. */
  private def trixStep(e1: String, e2: String, e3: String,
      v: String): (String, String, String) = {
    val n1 = s"($e1 + ($v - $e1) / 3.0)"
    val n2 = s"($e2 + ($n1 - $e2) / 3.0)"
    val n3 = s"($e3 + ($n2 - $e3) / 3.0)"
    (n1, n2, n3)
  }

  def winTrix(s: SparkSession, dir: String): DataFrame = {
    val (n1, n2, n3) = trixStep("acc.e1", "acc.e2", "acc.e3", "v")
    t(s, dir, "events")
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("ts"), col("event_id"),
        col("value")))).as("xs"))
      .select(col("user_id"),
        expr("transform(xs, x -> x.value)").as("vs"))
      .where(size(col("vs")) >= 2)
      .select(col("user_id"), size(col("vs")).cast("long").as("n_events"),
        expr(s"""aggregate(slice(vs, 2, size(vs) - 1),
                 named_struct('e1', vs[0], 'e2', vs[0], 'e3', vs[0],
                              'p3', vs[0]),
                 (acc, v) -> named_struct(
                   'e1', $n1, 'e2', $n2, 'e3', $n3,
                   'p3', acc.e3))""").as("f"))
      .select(col("user_id"), col("n_events"),
        col("f.e3").as("tema"),
        when(col("f.p3") =!= 0.0,
          lit(100.0) * (col("f.e3") - col("f.p3")) / col("f.p3"))
          .as("trix"))
  }

  private def trixOracleSql: String = {
    val (n1, n2, n3) = trixStep("f.e1", "f.e2", "f.e3", "v.x")
    s"""WITH RECURSIVE
       |v AS (SELECT user_id,
       |        row_number() OVER (PARTITION BY user_id
       |          ORDER BY ts, event_id) AS i,
       |        CAST(value AS DOUBLE) AS x FROM events),
       |n AS (SELECT user_id, max(i) AS n FROM v GROUP BY user_id
       |      HAVING max(i) >= 2),
       |f(user_id, i, e1, e2, e3, p3) AS (
       |  SELECT user_id, 1, x, x, x, x FROM v WHERE i = 1
       |  UNION ALL
       |  SELECT f.user_id, f.i + 1, $n1, $n2, $n3, f.e3
       |  FROM f JOIN v ON v.user_id = f.user_id AND v.i = f.i + 1)
       |SELECT f.user_id, CAST(n.n AS BIGINT) AS n_events,
       |  f.e3 AS tema,
       |  CASE WHEN f.p3 <> 0.0
       |       THEN 100.0 * (f.e3 - f.p3) / f.p3 END AS trix
       |FROM f JOIN n ON n.user_id = f.user_id WHERE f.i = n.n""".stripMargin
  }

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("win_aroon", winAroon, "WITH " + aroonSql("events")),
    QueryDef("win_williams_r", winWilliamsR, "WITH " + williamsSql("events")),
    QueryDef("win_mfi", winMfi, "WITH " + mfiSql("events")),
    QueryDef("win_trix", winTrix, trixOracleSql))
}
