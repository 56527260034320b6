package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables
import graft.core.CkptTap._

/** Round-10 session-4 batch J: smoothed candles, absorption
  * probabilities, and exact randomization inference.
  *
  *  - `win_heikin_ashi` — Heikin-Ashi smoothed candles per user-day:
  *    the recursive ha_open fold ([[Analytics11.winGarch]]'s
  *    aggregate-HOF shape) with per-day emission.
  *  - `graph_hitting_prob` — P(hit 'purchase' within k steps) from
  *    every event type on the session transition matrix, k ∈ {4, 8}
  *    — truncated absorption probabilities by fixed synchronous
  *    rounds.
  *  - `agg_randomization_test` — a B=16 randomization test of the
  *    even/odd-cohort spend difference with md5-lattice relabelings:
  *    every replicate statistic is a closed-form double over EXACT
  *    integer-cent sums, so the p-value is engine-exact.
  *
  * Determinism rules as in [[Analytics]] / [[Analytics12]].
  */
object Analytics21 {

  // ---------------------------------------------------------------------
  // win_heikin_ashi
  // ---------------------------------------------------------------------

  /** Daily OHLC bars per user (the `agg_vol_estimators` exchange),
    * then the Heikin-Ashi recursion: ha_close = (o+h+l+c)/4,
    * ha_open₁ = (o₁+c₁)/2, ha_openₜ = (ha_openₜ₋₁+ha_closeₜ₋₁)/2,
    * ha_high/low clamp against the raw extremes. The recursion is a
    * LEFT-TO-RIGHT IEEE fold — aggregate HOF over the date-sorted bar
    * array on the engine, the identical order replayed by the
    * oracle's recursive CTE — so every emitted double is bit-exact
    * across engines. Per-user state is two doubles plus the emitted
    * array (bounded by the user's trading days). */
  private def haBarsSql(events: String): String =
    s"""SELECT user_id, d, o, h, l, c,
       |  row_number() OVER (PARTITION BY user_id ORDER BY d) AS rn
       |FROM (
       |  SELECT user_id, d, min(o) AS o, max(value) AS h,
       |    min(value) AS l, min(c) AS c
       |  FROM (
       |    SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d, value,
       |      first_value(value) OVER (PARTITION BY user_id,
       |        CAST(date_trunc('day', ts) AS DATE)
       |        ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING
       |        AND UNBOUNDED FOLLOWING) AS o,
       |      last_value(value) OVER (PARTITION BY user_id,
       |        CAST(date_trunc('day', ts) AS DATE)
       |        ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING
       |        AND UNBOUNDED FOLLOWING) AS c
       |    FROM $events WHERE value >= 1.0) x
       |  GROUP BY user_id, d) y""".stripMargin

  def winHeikinAshi(s: SparkSession, dir: String): DataFrame = {
    val bars = Tables.sql(s, dir, haBarsSql("events")).tappedLocalCheckpoint()
    Tables.sql(s, dir,
      """WITH g AS (SELECT user_id,
        |        array_sort(collect_list(named_struct(
        |          'rn', rn, 'd', d, 'o', o, 'h', h, 'l', l, 'c', c))) AS bs
        |      FROM graft_ha_bars GROUP BY user_id),
        |f AS (SELECT user_id,
        |        aggregate(slice(bs, 2, size(bs) - 1),
        |          named_struct(
        |            'po', (bs[0].o + bs[0].c) / 2D,
        |            'pc', (bs[0].o + bs[0].h + bs[0].l + bs[0].c) / 4D,
        |            'res', array(named_struct('rn', bs[0].rn,
        |              'ho', (bs[0].o + bs[0].c) / 2D,
        |              'hc', (bs[0].o + bs[0].h + bs[0].l + bs[0].c) / 4D))),
        |          (acc, b) -> named_struct(
        |            'po', (acc.po + acc.pc) / 2D,
        |            'pc', (b.o + b.h + b.l + b.c) / 4D,
        |            'res', concat(acc.res, array(named_struct('rn', b.rn,
        |              'ho', (acc.po + acc.pc) / 2D,
        |              'hc', (b.o + b.h + b.l + b.c) / 4D))))) AS f
        |      FROM g),
        |e AS (SELECT user_id, x.rn AS rn, x.ho AS ho, x.hc AS hc
        |      FROM f LATERAL VIEW explode(f.res) t AS x)
        |SELECT b.user_id, b.d, e.ho AS ha_open, e.hc AS ha_close,
        |  greatest(b.h, e.ho, e.hc) AS ha_high,
        |  least(b.l, e.ho, e.hc) AS ha_low
        |FROM e JOIN graft_ha_bars b
        |  ON b.user_id = e.user_id AND b.rn = e.rn""".stripMargin,
      "graft_ha_bars" -> bars)
  }

  private def haOracleSql: String =
    s"""WITH RECURSIVE b AS (${haBarsSql("events")}),
       |f(user_id, rn, ho, hc) AS (
       |  SELECT user_id, CAST(1 AS BIGINT), (o + c) / 2,
       |    (o + h + l + c) / 4
       |  FROM b WHERE rn = 1
       |  UNION ALL
       |  SELECT f.user_id, f.rn + 1, (f.ho + f.hc) / 2,
       |    (b.o + b.h + b.l + b.c) / 4
       |  FROM f JOIN b ON b.user_id = f.user_id AND b.rn = f.rn + 1)
       |SELECT b.user_id, b.d, f.ho AS ha_open, f.hc AS ha_close,
       |  greatest(b.h, f.ho, f.hc) AS ha_high,
       |  least(b.l, f.ho, f.hc) AS ha_low
       |FROM f JOIN b ON b.user_id = f.user_id AND b.rn = f.rn""".stripMargin

  // ---------------------------------------------------------------------
  // graph_hitting_prob
  // ---------------------------------------------------------------------

  /** Truncated absorption: hₖ(s) = 1 if s is 'purchase', else
    * Σ_t P(s,t)·hₖ₋₁(t), eight synchronous rounds on the bounded
    * transition matrix (per-row sums over ≤|types| terms — the
    * corr-family absorption band). The engine checkpoints each
    * |types|-row iterate (the PCA lesson); the oracle chains the
    * same eight CTEs. Emits P(hit ≤4) and P(hit ≤8) per start. */
  private def hitRoundSql(edges: String, h: String): String =
    s"""SELECT e.src AS event_type,
       |  CASE WHEN e.src = 'purchase' THEN 1.0D
       |       ELSE sum(e.wt * h.p) END AS p
       |FROM $edges e JOIN $h h ON h.event_type = e.dst
       |GROUP BY e.src""".stripMargin

  def graphHittingProb(s: SparkSession, dir: String): DataFrame = {
    val edges = Tables.sql(s, dir,
      """SELECT src, dst, CAST(cnt AS DOUBLE)
        |    / sum(cnt) OVER (PARTITION BY src) AS wt
        |FROM (SELECT event_type AS src, nxt AS dst, count(*) AS cnt
        |      FROM (SELECT event_type, lead(event_type) OVER (
        |              PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        |            FROM events) e
        |      WHERE nxt IS NOT NULL GROUP BY 1, 2) c""".stripMargin)
      .coalesce(1).tappedLocalCheckpoint()
    val h0 = Tables.sql(s, dir, """SELECT DISTINCT src AS event_type,
            |  CASE WHEN src = 'purchase' THEN 1.0D ELSE 0.0D END AS p
            |FROM graft_hp_edges""".stripMargin, "graft_hp_edges" -> edges)
      .coalesce(1).tappedLocalCheckpoint()
    val h = (1 to 8).scanLeft(h0) { (prev, _) =>
      Tables.sql(s, dir, hitRoundSql("graft_hp_edges", "graft_hp_h"),
        "graft_hp_edges" -> edges, "graft_hp_h" -> prev)
        .coalesce(1).tappedLocalCheckpoint()
    }
    Tables.sql(s, dir,
      """SELECT h8.event_type, h4.p AS p_hit_4, h8.p AS p_hit_8
        |FROM graft_hp_h h8 JOIN graft_hp_h4 h4
        |  ON h4.event_type = h8.event_type""".stripMargin,
      "graft_hp_h" -> h(8), "graft_hp_h4" -> h(4))
  }

  private def hitOracleSql: String = {
    def round(prev: String, k: Int): String =
      s"""h$k AS (SELECT e.src AS event_type,
         |  CASE WHEN e.src = 'purchase' THEN 1.0
         |       ELSE sum(e.wt * $prev.p) END AS p
         |FROM edges e JOIN $prev ON $prev.event_type = e.dst
         |GROUP BY e.src)""".stripMargin
    val rounds = (1 to 8)
      .map(k => round(if (k == 1) "h0" else s"h${k - 1}", k))
      .mkString(",\n")
    s"""WITH edges AS MATERIALIZED (
       |  SELECT src, dst, CAST(cnt AS DOUBLE)
       |      / sum(cnt) OVER (PARTITION BY src) AS wt
       |  FROM (SELECT event_type AS src, nxt AS dst, count(*) AS cnt
       |        FROM (SELECT event_type, lead(event_type) OVER (
       |                PARTITION BY user_id ORDER BY ts, event_id) AS nxt
       |              FROM events) e
       |        WHERE nxt IS NOT NULL GROUP BY 1, 2) c),
       |h0 AS (SELECT DISTINCT src AS event_type,
       |         CASE WHEN src = 'purchase' THEN 1.0 ELSE 0.0 END AS p
       |       FROM edges),
       |$rounds
       |SELECT h8.event_type, h4.p AS p_hit_4, h8.p AS p_hit_8
       |FROM h8 JOIN h4 ON h4.event_type = h8.event_type""".stripMargin
  }

  // ---------------------------------------------------------------------
  // agg_randomization_test
  // ---------------------------------------------------------------------

  /** Randomization test of the even/odd-cohort mean spend difference:
    * per-user exact integer-cent totals, the observed statistic from
    * the real cohorts, and B = 16 replicate statistics under
    * md5-lattice relabelings (first md5 bit of user:b). Every
    * statistic is (Σcents/100)/n arithmetic on exact integers, so the
    * comparison |diff_b| ≥ |obs| and the p-value (1+#extreme)/(B+1)
    * are bit-exact on both engines. One pass over the corpus, one
    * |users|×B map — the scalable permutation-inference shape
    * (exact label shuffles need a global sort; iid relabeling is the
    * map-combinable surrogate, per the Poisson-bootstrap rationale). */
  private def randTestSql(events: String): String =
    s"""WITH u AS (SELECT user_id, user_id % 2 AS cohort,
       |        CAST(sum(CAST(round(value * 100.0, 0) AS BIGINT))
       |             AS BIGINT) AS cents
       |      FROM $events GROUP BY user_id),
       |obs AS (SELECT
       |    CAST(sum(CASE WHEN cohort = 0 THEN cents ELSE 0 END) AS DOUBLE)
       |      / (100.0 * sum(CASE WHEN cohort = 0 THEN 1 ELSE 0 END))
       |  - CAST(sum(CASE WHEN cohort = 1 THEN cents ELSE 0 END) AS DOUBLE)
       |      / (100.0 * sum(CASE WHEN cohort = 1 THEN 1 ELSE 0 END))
       |    AS d FROM u),
       |reps AS (SELECT u.user_id, u.cents, b.b,
       |    (instr('0123456789abcdef', substr(md5(
       |       CAST(u.user_id AS STRING) || ':' || CAST(b.b AS STRING)),
       |       1, 1)) - 1) % 2 AS grp
       |  FROM u CROSS JOIN (SELECT 1 AS b UNION ALL SELECT 2 UNION ALL
       |    SELECT 3 UNION ALL SELECT 4 UNION ALL SELECT 5 UNION ALL
       |    SELECT 6 UNION ALL SELECT 7 UNION ALL SELECT 8 UNION ALL
       |    SELECT 9 UNION ALL SELECT 10 UNION ALL SELECT 11 UNION ALL
       |    SELECT 12 UNION ALL SELECT 13 UNION ALL SELECT 14 UNION ALL
       |    SELECT 15 UNION ALL SELECT 16) b),
       |rstat AS (SELECT b,
       |    CAST(sum(CASE WHEN grp = 0 THEN cents ELSE 0 END) AS DOUBLE)
       |      / (100.0 * sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END))
       |  - CAST(sum(CASE WHEN grp = 1 THEN cents ELSE 0 END) AS DOUBLE)
       |      / (100.0 * sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END))
       |    AS d
       |  FROM reps GROUP BY b HAVING count(*) > 0)
       |SELECT obs.d AS obs_diff, CAST(count(*) AS BIGINT) AS n_reps,
       |  CAST(sum(CASE WHEN abs(rstat.d) >= abs(obs.d)
       |                THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
       |  (1.0 + CAST(sum(CASE WHEN abs(rstat.d) >= abs(obs.d)
       |             THEN 1 ELSE 0 END) AS DOUBLE)) / (count(*) + 1.0)
       |    AS p_value
       |FROM rstat CROSS JOIN obs GROUP BY obs.d""".stripMargin

  // ---------------------------------------------------------------------
  // agg_chow_test
  // ---------------------------------------------------------------------

  /** Chow test of a structural break at the HYPOTHESIZED date
    * 1998-01-01 in the daily-revenue-on-time regression (the
    * confirmatory twin of `agg_binseg_split`'s search): pooled and
    * per-segment OLS residual sums from EXACT DECIMAL(38,0) censuses
    * (x = day index, y = whole dollars; RSS = Syy − Sxy²/Sxx on
    * centered second moments), then
    * F = ((RSSp − RSS₁ − RSS₂)/2) / ((RSS₁+RSS₂)/(n−4)). Every
    * floating value derives closed-form from exact integer sums. */
  private def chowSql(orders: String, dayIdx: String): String = {
    def seg(name: String, filter: String): String =
      s"""$name AS (SELECT count(*) AS n,
         |  CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         |  CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
         |  CAST(sum(CAST(x AS DECIMAL(19,0)) * y) AS DOUBLE) AS sxy,
         |  CAST(sum(CAST(x AS DECIMAL(19,0)) * x) AS DOUBLE) AS sxx,
         |  CAST(sum(CAST(y AS DECIMAL(19,0)) * y) AS DOUBLE) AS syy
         |FROM daily $filter)""".stripMargin
    def rss(t: String): String =
      s"""(($t.syy - $t.sy * $t.sy / $t.n)
         | - ($t.sxy - $t.sx * $t.sy / $t.n)
         |   * ($t.sxy - $t.sx * $t.sy / $t.n)
         |   / ($t.sxx - $t.sx * $t.sx / $t.n))""".stripMargin
    s"""WITH daily AS (
       |  SELECT CAST($dayIdx AS BIGINT) AS x,
       |         CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))))
       |              AS DECIMAL(19,0)) AS y,
       |         CAST(o_orderdate AS DATE) >= DATE '1998-01-01' AS post
       |  FROM $orders GROUP BY 1, 3),
       |${seg("p", "")},
       |${seg("s1", "WHERE NOT post")},
       |${seg("s2", "WHERE post")}
       |SELECT CAST(p.n AS BIGINT) AS n_days,
       |  CAST(s1.n AS BIGINT) AS n_pre, CAST(s2.n AS BIGINT) AS n_post,
       |  CASE WHEN ${rss("p")} > 0.0 THEN
       |    ROUND((${rss("s1")} + ${rss("s2")}) / ${rss("p")}, 6)
       |  END AS rss_ratio,
       |  CASE WHEN s1.n > 2 AND s2.n > 2
       |         AND ${rss("s1")} + ${rss("s2")} > 0.0 THEN
       |    ((${rss("p")} - ${rss("s1")} - ${rss("s2")}) / 2.0)
       |      / ((${rss("s1")} + ${rss("s2")}) / (p.n - 4))
       |  END AS chow_f
       |FROM p CROSS JOIN s1 CROSS JOIN s2
       |WHERE p.n > 0""".stripMargin
  }

  def aggChowTest(s: SparkSession, dir: String): DataFrame = {
    Tables.sql(s, dir, chowSql("orders",
      "datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01')"))
  }

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("win_heikin_ashi", winHeikinAshi, haOracleSql),
    QueryDef("graph_hitting_prob", graphHittingProb, hitOracleSql),
    QueryDef.sql("agg_randomization_test",
      randTestSql("events")),
    QueryDef("agg_chow_test", aggChowTest, chowSql("orders",
      "datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))")))
}
