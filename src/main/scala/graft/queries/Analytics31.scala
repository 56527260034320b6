package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables

/** Round-11 batch K: the stateful technical-indicator tail (folds) and
  * intermittent-demand forecasting.
  *
  *  - `win_adx` — Average Directional Index (SMA-smoothed DI±/DX/ADX)
  *    per user over the event-value series; pure finite-frame windows.
  *  - `win_cci` — Commodity Channel Index; the nested frame statistic
  *    (mean absolute deviation AROUND the frame mean) comes from a
  *    bounded 20-row band self-join — the standard spelling when a
  *    window-of-a-window isn't expressible.
  *  - `win_parabolic_sar` — Wilder's Parabolic SAR trend-flip fold
  *    (acceleration-factor state machine), one IEEE replay per user.
  *  - `win_renko` — Renko brick construction fold (fixed brick size,
  *    multi-brick steps).
  *  - `agg_croston` — Croston's method for intermittent demand over
  *    per-part daily quantities (twin EWMAs on demand size and
  *    inter-demand interval).
  *
  * Fold determinism contract as in [[Analytics6]] (`win_kalman`): the
  * Spark side folds a per-key ordered array with `aggregate`, the
  * DuckDB oracle replays the IDENTICAL arithmetic through a recursive
  * CTE — one IEEE sequence on both engines, so trend flips and brick
  * counts are bit-reproducible, not tolerance-graded.
  */
object Analytics31 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---------------------------------------------------------------------
  // win_adx
  // ---------------------------------------------------------------------

  /** ADX(14) with SMA smoothing (the window-expressible variant;
    * Wilder's RMA is a fold and already exemplified by the SAR/renko
    * queries). Bars are synthesized from consecutive values
    * (high = max(v, prev), low = min(v, prev)), under which
    * TR = high − low = |Δv| dominates both gap terms by construction.
    * Emitted from the first row with two full 14-frames behind it.
    * One shuffle on user_id; every frame runs partition-local. */
  private def adxSql(events: String): String =
    s"""r AS (SELECT user_id, event_id, value AS v,
       |        lag(value) OVER (PARTITION BY user_id
       |          ORDER BY ts, event_id) AS pv,
       |        row_number() OVER (PARTITION BY user_id
       |          ORDER BY ts, event_id) AS rn
       |      FROM $events),
       |b AS (SELECT user_id, event_id, rn,
       |        greatest(v, pv) AS hi, least(v, pv) AS lo,
       |        greatest(v, pv) - lag(greatest(v, pv)) OVER
       |          (PARTITION BY user_id ORDER BY rn) AS up_mv,
       |        lag(least(v, pv)) OVER
       |          (PARTITION BY user_id ORDER BY rn) - least(v, pv)
       |          AS dn_mv
       |      FROM r WHERE pv IS NOT NULL),
       |dm AS (SELECT user_id, event_id, rn,
       |        hi - lo AS tr,
       |        CASE WHEN up_mv > dn_mv AND up_mv > 0.0
       |             THEN up_mv ELSE 0.0 END AS dm_p,
       |        CASE WHEN dn_mv > up_mv AND dn_mv > 0.0
       |             THEN dn_mv ELSE 0.0 END AS dm_m
       |      FROM b WHERE up_mv IS NOT NULL),
       |di AS (SELECT user_id, event_id, rn,
       |        avg(dm_p) OVER (PARTITION BY user_id ORDER BY rn
       |          ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS s_p,
       |        avg(dm_m) OVER (PARTITION BY user_id ORDER BY rn
       |          ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS s_m,
       |        avg(tr)   OVER (PARTITION BY user_id ORDER BY rn
       |          ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS s_tr
       |      FROM dm),
       |dx AS (SELECT user_id, event_id, rn,
       |        CASE WHEN s_tr > 0.0 THEN 100.0 * s_p / s_tr END AS di_p,
       |        CASE WHEN s_tr > 0.0 THEN 100.0 * s_m / s_tr END AS di_m,
       |        CASE WHEN s_tr > 0.0 AND s_p + s_m > 0.0
       |             THEN 100.0 * abs(s_p - s_m) / (s_p + s_m) END AS dx
       |      FROM di)
       |SELECT user_id, event_id, di_p, di_m,
       |  avg(dx) OVER (PARTITION BY user_id ORDER BY rn
       |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS adx
       |FROM dx WHERE rn >= 29""".stripMargin

  def winAdx(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events").createOrReplaceTempView("graft_adx_events")
    s.sql("WITH " + adxSql("graft_adx_events"))
  }

  // ---------------------------------------------------------------------
  // win_cci
  // ---------------------------------------------------------------------

  /** CCI(20) = (v − SMA₂₀) / (0.015 · MAD₂₀) where MAD is the mean
    * ABSOLUTE deviation around the frame's own mean — a second-order
    * frame statistic no single window can express. The members of
    * each frame are re-attached through a banded self-join (a fixed
    * 20× row blowup, partition-local once shuffled on user_id — at
    * 100 TB the same join rides the user bucketing). */
  private def cciSql(events: String): String =
    s"""r AS (SELECT user_id, event_id, value AS v,
       |        row_number() OVER (PARTITION BY user_id
       |          ORDER BY ts, event_id) AS rn
       |      FROM $events),
       |m AS (SELECT user_id, event_id, rn, v,
       |        avg(v) OVER (PARTITION BY user_id ORDER BY rn
       |          ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS sma
       |      FROM r),
       |d AS (SELECT m.user_id, m.event_id, m.rn, m.v, m.sma,
       |        avg(abs(r.v - m.sma)) AS mad
       |      FROM m JOIN r ON r.user_id = m.user_id
       |        AND r.rn BETWEEN m.rn - 19 AND m.rn
       |      WHERE m.rn >= 20
       |      GROUP BY m.user_id, m.event_id, m.rn, m.v, m.sma)
       |SELECT user_id, event_id, v, sma, mad,
       |  CASE WHEN mad > 0.0 THEN (v - sma) / (0.015 * mad) END AS cci
       |FROM d""".stripMargin

  def winCci(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events").createOrReplaceTempView("graft_win_cci_events")
    s.sql("WITH " + cciSql("graft_win_cci_events"))
  }

  // ---------------------------------------------------------------------
  // win_parabolic_sar — shared transition expressions
  // ---------------------------------------------------------------------

  /** The five SAR next-state expressions over accessor names, used
    * VERBATIM by both the Spark fold lambda and the DuckDB recursion
    * so the IEEE sequence is identical. `sp` (the predicted SAR) is
    * inlined at each use — same bits, both engines. */
  private def sarStep(u: String, sar: String, ep: String, af: String,
      fl: String, v: String): (String, String, String, String, String) = {
    val sp = s"($sar + $af * ($ep - $sar))"
    val flip = s"(CASE WHEN $u THEN $v < $sp ELSE $v > $sp END)"
    (s"CASE WHEN $flip THEN NOT $u ELSE $u END",
      s"CASE WHEN $flip THEN $ep ELSE $sp END",
      s"""CASE WHEN $flip THEN $v
         |     WHEN $u THEN greatest($ep, $v)
         |     ELSE least($ep, $v) END""".stripMargin,
      s"""CASE WHEN $flip THEN 0.02
         |     WHEN ($u AND $v > $ep) OR ((NOT $u) AND $v < $ep)
         |       THEN least(0.2, $af + 0.02)
         |     ELSE $af END""".stripMargin,
      s"$fl + CASE WHEN $flip THEN 1 ELSE 0 END")
  }

  /** Parabolic SAR over each user's value series (degenerate
    * high=low=close bars): trend seeded by the sign of the first
    * step, SAR at the seed extreme, AF 0.02 stepping to 0.2, flip →
    * SAR jumps to the prior extreme. Emits the final trend state and
    * flip census per user (≥2 events). */
  def winParabolicSar(s: SparkSession, dir: String): DataFrame = {
    val (nu, nsar, nep, naf, nfl) =
      sarStep("acc.u", "acc.sar", "acc.ep", "acc.af", "acc.fl", "v")
    t(s, dir, "events")
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("ts"), col("event_id"),
        col("value")))).as("xs"))
      .select(col("user_id"),
        expr("transform(xs, x -> x.value)").as("vs"))
      .where(size(col("vs")) >= 2)
      .select(col("user_id"), size(col("vs")).cast("long").as("n_events"),
        expr(s"""aggregate(slice(vs, 3, size(vs) - 2),
                 named_struct(
                   'u',   vs[1] >= vs[0],
                   'sar', CASE WHEN vs[1] >= vs[0] THEN least(vs[0], vs[1])
                               ELSE greatest(vs[0], vs[1]) END,
                   'ep',  CASE WHEN vs[1] >= vs[0] THEN greatest(vs[0], vs[1])
                               ELSE least(vs[0], vs[1]) END,
                   'af',  CAST(0.02 AS DOUBLE),
                   'fl',  0L),
                 (acc, v) -> named_struct(
                   'u', $nu, 'sar', $nsar, 'ep', $nep, 'af', $naf,
                   'fl', $nfl))""").as("f"))
      .select(col("user_id"), col("n_events"),
        col("f.u").as("trend_up"), col("f.sar").as("psar"),
        col("f.ep").as("extreme_point"), col("f.af").as("accel"),
        col("f.fl").cast("long").as("n_flips"))
  }

  private def sarOracleSql: String = {
    val (nu, nsar, nep, naf, nfl) =
      sarStep("f.u", "f.sar", "f.ep", "f.af", "f.fl", "v.x")
    s"""WITH RECURSIVE
       |v AS (SELECT user_id,
       |        row_number() OVER (PARTITION BY user_id
       |          ORDER BY ts, event_id) AS i,
       |        CAST(value AS DOUBLE) AS x FROM events),
       |n AS (SELECT user_id, max(i) AS n FROM v GROUP BY user_id
       |      HAVING max(i) >= 2),
       |f(user_id, i, u, sar, ep, af, fl) AS (
       |  SELECT a.user_id, 2, b.x >= a.x,
       |    CASE WHEN b.x >= a.x THEN least(a.x, b.x)
       |         ELSE greatest(a.x, b.x) END,
       |    CASE WHEN b.x >= a.x THEN greatest(a.x, b.x)
       |         ELSE least(a.x, b.x) END,
       |    CAST(0.02 AS DOUBLE), 0
       |  FROM v a JOIN v b ON b.user_id = a.user_id AND b.i = 2
       |  WHERE a.i = 1
       |  UNION ALL
       |  SELECT f.user_id, f.i + 1, $nu, $nsar, $nep, $naf, $nfl
       |  FROM f JOIN v ON v.user_id = f.user_id AND v.i = f.i + 1)
       |SELECT f.user_id, CAST(n.n AS BIGINT) AS n_events,
       |  f.u AS trend_up, f.sar AS psar, f.ep AS extreme_point,
       |  f.af AS accel, CAST(f.fl AS BIGINT) AS n_flips
       |FROM f JOIN n ON n.user_id = f.user_id WHERE f.i = n.n""".stripMargin
  }

  // ---------------------------------------------------------------------
  // win_renko
  // ---------------------------------------------------------------------

  /** Renko brick fold (brick size 5.0): each step lays
    * floor(|v − ref| / 5) bricks in the move's direction and advances
    * the reference by that whole number of bricks; moves inside one
    * brick leave the state unchanged. Integer brick censuses — the
    * only doubles are the reference line itself. */
  def winRenko(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("ts"), col("event_id"),
        col("value")))).as("xs"))
      .select(col("user_id"),
        expr("transform(xs, x -> x.value)").as("vs"))
      .select(col("user_id"), size(col("vs")).cast("long").as("n_events"),
        expr("""aggregate(slice(vs, 2, size(vs) - 1),
                 named_struct('ref', vs[0], 'up', 0L, 'dn', 0L),
                 (acc, v) -> named_struct(
                   'ref', acc.ref
                     + (greatest(0.0D, floor((v - acc.ref) / 5.0D))
                        - greatest(0.0D, floor((acc.ref - v) / 5.0D)))
                       * 5.0D,
                   'up', acc.up + CAST(greatest(0.0D,
                           floor((v - acc.ref) / 5.0D)) AS BIGINT),
                   'dn', acc.dn + CAST(greatest(0.0D,
                           floor((acc.ref - v) / 5.0D)) AS BIGINT)))""")
          .as("f"))
      .select(col("user_id"), col("n_events"),
        col("f.ref").as("renko_ref"), col("f.up").as("bricks_up"),
        col("f.dn").as("bricks_dn"),
        (col("f.up") - col("f.dn")).as("bricks_net"))

  private val renkoOracleSql: String =
    """WITH RECURSIVE
      |v AS (SELECT user_id,
      |        row_number() OVER (PARTITION BY user_id
      |          ORDER BY ts, event_id) AS i,
      |        CAST(value AS DOUBLE) AS x FROM events),
      |n AS (SELECT user_id, max(i) AS n FROM v GROUP BY user_id),
      |f(user_id, i, ref, up, dn) AS (
      |  SELECT user_id, 1, x, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      |  FROM v WHERE i = 1
      |  UNION ALL
      |  SELECT f.user_id, f.i + 1,
      |    f.ref + (greatest(CAST(0.0 AS DOUBLE),
      |               floor((v.x - f.ref) / 5.0))
      |             - greatest(CAST(0.0 AS DOUBLE),
      |               floor((f.ref - v.x) / 5.0))) * 5.0,
      |    f.up + CAST(greatest(CAST(0.0 AS DOUBLE),
      |             floor((v.x - f.ref) / 5.0)) AS BIGINT),
      |    f.dn + CAST(greatest(CAST(0.0 AS DOUBLE),
      |             floor((f.ref - v.x) / 5.0)) AS BIGINT)
      |  FROM f JOIN v ON v.user_id = f.user_id AND v.i = f.i + 1)
      |SELECT f.user_id, CAST(n.n AS BIGINT) AS n_events,
      |  f.ref AS renko_ref, f.up AS bricks_up, f.dn AS bricks_dn,
      |  f.up - f.dn AS bricks_net
      |FROM f JOIN n ON n.user_id = f.user_id WHERE f.i = n.n""".stripMargin

  // ---------------------------------------------------------------------
  // agg_croston
  // ---------------------------------------------------------------------

  /** Croston's method per part over the daily-demand series (days
    * WITH demand only, as the method prescribes): EWMA (α = 0.1) of
    * demand size z and of inter-demand interval x, forecast z/x.
    * The interval EWMA seeds on the FIRST observed interval (the n=1
    * branch); parts with a single demand day emit null interval and
    * forecast. Daily sizes are exact decimal sums cast once. */
  def aggCroston(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_partkey"),
        datediff(col("l_shipdate").cast("date"),
          to_date(lit("1995-01-01"))).cast("long").as("day"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("q"))
      .groupBy("l_partkey")
      .agg(array_sort(collect_list(struct(col("day"),
        col("q").cast("double").as("q")))).as("xs"))
      .select(col("l_partkey"),
        size(col("xs")).cast("long").as("n_demand_days"), col("xs"))
      .select(col("l_partkey"), col("n_demand_days"),
        expr("""aggregate(slice(xs, 2, size(xs) - 1),
                 named_struct('z', xs[0].q, 'xi', CAST(0.0 AS DOUBLE),
                   'prev', xs[0].day, 'n', 1L),
                 (acc, e) -> named_struct(
                   'z', acc.z + 0.1D * (e.q - acc.z),
                   'xi', CASE WHEN acc.n = 1L
                           THEN CAST(e.day - acc.prev AS DOUBLE)
                           ELSE acc.xi + 0.1D
                             * (CAST(e.day - acc.prev AS DOUBLE) - acc.xi)
                         END,
                   'prev', e.day,
                   'n', acc.n + 1L))""").as("f"))
      .select(col("l_partkey"), col("n_demand_days"),
        col("f.z").as("z_size"),
        when(col("f.n") >= 2, col("f.xi")).as("x_interval"),
        when(col("f.n") >= 2, col("f.z") / col("f.xi"))
          .as("croston_forecast"))

  private def crostonOracleSql(dayIdx: String): String =
    s"""WITH RECURSIVE
       |dd AS (SELECT l_partkey, CAST($dayIdx AS BIGINT) AS day,
       |         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
       |           AS q
       |       FROM lineitem GROUP BY 1, 2),
       |v AS (SELECT l_partkey,
       |        row_number() OVER (PARTITION BY l_partkey
       |          ORDER BY day) AS i,
       |        day, q FROM dd),
       |nn AS (SELECT l_partkey, max(i) AS n FROM v GROUP BY l_partkey),
       |f(l_partkey, i, z, xi, prev, n) AS (
       |  SELECT l_partkey, 1, q, CAST(0.0 AS DOUBLE), day,
       |    CAST(1 AS BIGINT)
       |  FROM v WHERE i = 1
       |  UNION ALL
       |  SELECT f.l_partkey, f.i + 1,
       |    f.z + 0.1 * (v.q - f.z),
       |    CASE WHEN f.n = 1 THEN CAST(v.day - f.prev AS DOUBLE)
       |         ELSE f.xi + 0.1 * (CAST(v.day - f.prev AS DOUBLE) - f.xi)
       |    END,
       |    v.day, f.n + 1
       |  FROM f JOIN v ON v.l_partkey = f.l_partkey AND v.i = f.i + 1)
       |SELECT f.l_partkey, CAST(nn.n AS BIGINT) AS n_demand_days,
       |  f.z AS z_size,
       |  CASE WHEN f.n >= 2 THEN f.xi END AS x_interval,
       |  CASE WHEN f.n >= 2 THEN f.z / f.xi END AS croston_forecast
       |FROM f JOIN nn ON nn.l_partkey = f.l_partkey WHERE f.i = nn.n""".stripMargin

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("win_adx", winAdx, "WITH " + adxSql("events")),
    QueryDef("win_cci", winCci, "WITH " + cciSql("events")),
    QueryDef("win_parabolic_sar", winParabolicSar, sarOracleSql),
    QueryDef("win_renko", winRenko, renkoOracleSql),
    QueryDef("agg_croston", aggCroston, crostonOracleSql(
      "datediff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE))")))
}
