package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables

/** Round-11 batch AB: ML-primitive splits, corpus divergence, and the
  * two-group survival comparison.
  *
  *  - `agg_decision_stump` — the best single-feature binary split
  *    (CART's inner loop): weighted Gini impurity of `value ≤ t`
  *    against the purchase label, evaluated at every DISTINCT value
  *    via prefix sums over the value census — the same
  *    census-not-rows trade as `agg_kruskal_wallis`. Every impurity
  *    is a rational of exact integers (bit-identical cross-engine),
  *    so the argmin (ordered by impurity, then threshold) cannot
  *    flip.
  *  - `text_jsd` — Jensen–Shannon divergence between the English and
  *    German unigram distributions (the corpus-drift metric PSI
  *    can't express for text): per-term contributions are pinned to
  *    DECIMAL(38,18) before the Σ (libm-ln terms, order-free sum).
  *  - `agg_logrank` — the log-rank test comparing time-to-first-
  *    purchase survival between the md5-parity experiment arms of
  *    `events_srm_check`, on the same 48 h-censored event-time
  *    relation as `agg_kaplan_meier`. The hypergeometric E/V terms
  *    sum in DECIMAL(38,18) over the horizon-bounded (≤49-row)
  *    event-time relation.
  */
object Analytics47 {

  // ---------------------------------------------------------------------
  // agg_decision_stump
  // ---------------------------------------------------------------------

  private def stumpSql(events: String): String =
    s"""v AS (SELECT CAST(value AS DECIMAL(18,2)) AS x,
       |        CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
       |      FROM $events),
       |c AS (SELECT x, CAST(count(*) AS BIGINT) AS cnt,
       |        CAST(sum(y) AS BIGINT) AS pos
       |      FROM v GROUP BY x),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
       |          CAST(sum(pos) AS BIGINT) AS p FROM c),
       |cum AS (SELECT x,
       |        CAST(sum(cnt) OVER (ORDER BY x) AS BIGINT) AS nl,
       |        CAST(sum(pos) OVER (ORDER BY x) AS BIGINT) AS pl
       |      FROM c),
       |sp AS (SELECT cum.x, cum.nl, cum.pl, tot.n, tot.p,
       |        tot.n - cum.nl AS nr, tot.p - cum.pl AS pr
       |      FROM cum CROSS JOIN tot WHERE cum.nl < tot.n),
       |gi AS (SELECT x, nl, nr,
       |        (CAST(nl AS DOUBLE) / n)
       |          * (1.0 - (CAST(pl AS DOUBLE) / nl)
       |                   * (CAST(pl AS DOUBLE) / nl)
       |                 - (CAST(nl - pl AS DOUBLE) / nl)
       |                   * (CAST(nl - pl AS DOUBLE) / nl))
       |      + (CAST(nr AS DOUBLE) / n)
       |          * (1.0 - (CAST(pr AS DOUBLE) / nr)
       |                   * (CAST(pr AS DOUBLE) / nr)
       |                 - (CAST(nr - pr AS DOUBLE) / nr)
       |                   * (CAST(nr - pr AS DOUBLE) / nr)) AS wg,
       |        1.0 - (CAST(p AS DOUBLE) / n) * (CAST(p AS DOUBLE) / n)
       |            - (CAST(n - p AS DOUBLE) / n)
       |              * (CAST(n - p AS DOUBLE) / n) AS g_root
       |      FROM sp),
       |best AS (SELECT x, nl, nr, wg, g_root,
       |          row_number() OVER (ORDER BY wg, x) AS rn
       |        FROM gi)
       |SELECT CAST(x AS DOUBLE) AS threshold, nl AS n_left,
       |  nr AS n_right, g_root AS gini_root, wg AS gini_split,
       |  g_root - wg AS gain
       |FROM best WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------------
  // text_jsd
  // ---------------------------------------------------------------------

  /** Shared body over a `tok(grp, term)` relation (grp ∈ 'en'/'de').
    * p/q are exact-count rationals; each JSD contribution is pinned
    * to DECIMAL(38,18) so the vocab Σ is order-free. Terms absent
    * from one side contribute with the 0·ln0 = 0 convention on that
    * side (coalesce to 0 probability). */
  private def jsdBody: String =
    s"""tc AS (SELECT grp, term, CAST(count(*) AS BIGINT) AS cnt
       |      FROM tok GROUP BY 1, 2),
       |tot AS (SELECT grp, CAST(sum(cnt) AS BIGINT) AS n
       |       FROM tc GROUP BY 1),
       |pq AS (SELECT coalesce(a.term, b.term) AS term,
       |        coalesce(CAST(a.cnt AS DOUBLE), 0.0)
       |          / (SELECT CAST(n AS DOUBLE) FROM tot WHERE grp = 'en')
       |          AS p,
       |        coalesce(CAST(b.cnt AS DOUBLE), 0.0)
       |          / (SELECT CAST(n AS DOUBLE) FROM tot WHERE grp = 'de')
       |          AS q
       |      FROM (SELECT term, cnt FROM tc WHERE grp = 'en') a
       |        FULL OUTER JOIN (SELECT term, cnt FROM tc WHERE grp = 'de') b
       |        ON b.term = a.term),
       |ctr AS (SELECT term,
       |        CASE WHEN p > 0.0
       |             THEN 0.5 * p * ln(2.0 * p / (p + q)) ELSE 0.0 END
       |      + CASE WHEN q > 0.0
       |             THEN 0.5 * q * ln(2.0 * q / (p + q)) ELSE 0.0 END
       |          AS c
       |      FROM pq)
       |SELECT CAST(count(*) AS BIGINT) AS vocab_union,
       |  CAST(sum(CAST(c AS DECIMAL(38,18))) AS DOUBLE) / ln(2.0)
       |    AS jsd_bits
       |FROM ctr""".stripMargin

  def textJsd(s: SparkSession, dir: String): DataFrame = {
    Tables.sql(s, dir, "WITH tok AS (SELECT lang AS grp, " +
      "explode(split(lower(text), ' ')) AS term " +
      "FROM documents WHERE lang IN ('en', 'de')),\n" + jsdBody)
  }

  private val jsdOracleSql: String =
    """WITH tok AS (SELECT lang AS grp,
      |    unnest(string_split(lower(text), ' ')) AS term
      |  FROM documents WHERE lang IN ('en', 'de')),
      |""".stripMargin + jsdBody

  // ---------------------------------------------------------------------
  // agg_logrank
  // ---------------------------------------------------------------------

  /** epochSec(ts) is the per-engine spelling; everything else is
    * shared. Hours are floor((fp−f)/3600) on exact integer seconds
    * (identical doubles → identical floor). */
  private def logrankSql(events: String, epochSec: String => String): String =
    s"""u AS (SELECT user_id, min(${epochSec("ts")}) AS f
       |      FROM $events GROUP BY user_id),
       |p AS (SELECT user_id, min(${epochSec("ts")}) AS fp
       |      FROM $events WHERE event_type = 'purchase'
       |      GROUP BY user_id),
       |arms AS (SELECT u.user_id, u.f, p.fp,
       |        CASE WHEN substr(md5(CAST(u.user_id AS STRING)), 1, 1)
       |               IN ('0','2','4','6','8','a','c','e')
       |             THEN 1 ELSE 0 END AS g1
       |      FROM u LEFT JOIN p ON p.user_id = u.user_id),
       |d AS (SELECT g1,
       |        CASE WHEN fp IS NOT NULL AND
       |               floor((fp - f) / CAST(3600 AS DOUBLE)) <= 48
       |             THEN CAST(floor((fp - f) / CAST(3600 AS DOUBLE))
       |                       AS BIGINT)
       |             ELSE CAST(48 AS BIGINT) END AS dur,
       |        CASE WHEN fp IS NOT NULL AND
       |               floor((fp - f) / CAST(3600 AS DOUBLE)) <= 48
       |             THEN 1 ELSE 0 END AS obs
       |      FROM arms),
       |g AS (SELECT dur, CAST(count(*) AS BIGINT) AS tot,
       |        CAST(sum(g1) AS BIGINT) AS tot1,
       |        CAST(sum(obs) AS BIGINT) AS d_all,
       |        CAST(sum(CASE WHEN g1 = 1 THEN obs ELSE 0 END) AS BIGINT)
       |          AS d1
       |      FROM d GROUP BY dur),
       |r AS (SELECT dur, d_all, d1,
       |        CAST(sum(tot) OVER (ORDER BY dur DESC) AS BIGINT)
       |          AS n_all,
       |        CAST(sum(tot1) OVER (ORDER BY dur DESC) AS BIGINT) AS n1
       |      FROM g),
       |s AS (SELECT
       |        CAST(sum(d1) AS BIGINT) AS o1,
       |        CAST(sum(CAST(CAST(d_all AS DOUBLE) * n1 / n_all
       |                      AS DECIMAL(38,18))) AS DOUBLE) AS e1,
       |        CAST(sum(CAST(CASE WHEN n_all > 1
       |          THEN CAST(d_all AS DOUBLE)
       |               * (CAST(n1 AS DOUBLE) / n_all)
       |               * (1.0 - CAST(n1 AS DOUBLE) / n_all)
       |               * (CAST(n_all - d_all AS DOUBLE) / (n_all - 1))
       |          ELSE 0.0 END AS DECIMAL(38,18))) AS DOUBLE) AS v
       |      FROM r WHERE d_all > 0)
       |SELECT o1 AS observed_g1, e1 AS expected_g1, v AS variance,
       |  (CAST(o1 AS DOUBLE) - e1) / sqrt(v) AS z,
       |  ((CAST(o1 AS DOUBLE) - e1) / sqrt(v))
       |    * ((CAST(o1 AS DOUBLE) - e1) / sqrt(v)) AS chi2
       |FROM s""".stripMargin

  def aggLogrank(s: SparkSession, dir: String): DataFrame = {
    Tables.sql(s, dir, "WITH " + logrankSql("events",
      ts => s"unix_timestamp($ts)"))
  }

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef.sql("agg_decision_stump",
      "WITH " + stumpSql("events")),
    QueryDef("text_jsd", textJsd, jsdOracleSql),
    QueryDef("agg_logrank", aggLogrank, "WITH " + logrankSql("events",
      // DuckDB epoch() keeps fractional microseconds; Spark's
      // unix_timestamp truncates — floor to the same second boundary
      ts => s"CAST(floor(epoch(CAST($ts AS TIMESTAMP))) AS BIGINT)")))
}
