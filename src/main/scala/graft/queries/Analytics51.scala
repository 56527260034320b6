package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables

/** Round-11 batch AF: behavioral predictability, experiment design,
  * and the exact energy distance.
  *
  *  - `events_markov_entropy` — entropy rate of the user-journey
  *    Markov chain: H = −Σᵢ πᵢ Σⱼ Pᵢⱼ log₂ Pᵢⱼ with empirical state
  *    frequencies as π. The |types|²-bounded transition census makes
  *    this a broadcast-sized computation at any scale.
  *  - `agg_power_twoprop` — the experiment-design readout on the
  *    md5-parity arms of `events_srm_check`: observed conversion
  *    delta, its SE, post-hoc power at α=0.05 (via the shared
  *    Zelen–Severo Φ of [[Analytics50]]'s contract, respelled here),
  *    and the minimum detectable effect at 80% power.
  *  - `agg_energy_distance` — Székely's energy distance between the
  *    purchase and click value distributions, computed EXACTLY: all
  *    three pairwise-|difference| sums collapse to prefix-sum
  *    identities over the merged distinct-value census
  *    (Σ_{i<j} cᵢcⱼ(vⱼ−vᵢ) = Σⱼ cⱼ(vⱼ·C_{<j} − S_{<j})), entirely in
  *    integer-cent decimals — an O(n²) statistic at O(distinct)
  *    cost with zero floating-point until the final normalization.
  */
object Analytics51 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---------------------------------------------------------------------
  // events_markov_entropy
  // ---------------------------------------------------------------------

  private def markovEntropySql(events: String): String =
    s"""eo AS (SELECT user_id, event_type AS src, ts, event_id
       |      FROM $events),
       |tr AS (SELECT src,
       |        lead(src) OVER (PARTITION BY user_id
       |          ORDER BY ts, event_id) AS dst
       |      FROM eo),
       |ec AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS cnt
       |      FROM tr WHERE dst IS NOT NULL GROUP BY 1, 2),
       |rowtot AS (SELECT src, CAST(sum(cnt) AS BIGINT) AS rt
       |      FROM ec GROUP BY 1),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM ec),
       |terms AS (SELECT ec.src,
       |        (CAST(rowtot.rt AS DOUBLE) / tot.n)
       |          * (CAST(ec.cnt AS DOUBLE) / rowtot.rt)
       |          * ln(CAST(ec.cnt AS DOUBLE) / rowtot.rt) AS c
       |      FROM ec JOIN rowtot ON rowtot.src = ec.src
       |        CROSS JOIN tot)
       |SELECT CAST(count(*) AS BIGINT) AS n_edges,
       |  -CAST(sum(CAST(c AS DECIMAL(38,18))) AS DOUBLE) / ln(2.0e0)
       |    AS entropy_rate_bits
       |FROM terms""".stripMargin

  def eventsMarkovEntropy(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events").createOrReplaceTempView("graft_me_events")
    s.sql("WITH " + markovEntropySql("graft_me_events"))
  }

  // ---------------------------------------------------------------------
  // agg_power_twoprop
  // ---------------------------------------------------------------------

  /** Φ — same Zelen–Severo spelling as [[Analytics50]] (duplicated
    * text by design: the oracle strings must be self-contained). */
  private def normCdf(x: String): String = {
    def half(ax: String): String = {
      val tt = s"(1.0e0 / (1.0e0 + 2.316419e-1 * $ax))"
      val poly = s"((((1.330274429e0 * $tt - 1.821255978e0) * $tt" +
        s" + 1.781477937e0) * $tt - 3.56563782e-1) * $tt" +
        s" + 3.1938153e-1) * $tt"
      s"(1.0e0 - exp(-$ax * $ax / 2.0e0) / 2.5066282746310002e0 * ($poly))"
    }
    s"""(CASE WHEN $x >= 0.0e0 THEN ${half(x)}
       |      ELSE 1.0e0 - ${half(s"(-$x)")} END)""".stripMargin
  }

  private def powerSql(events: String): String =
    s"""au AS (SELECT user_id,
       |        max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |          AS converted
       |      FROM $events GROUP BY user_id),
       |arms AS (SELECT converted,
       |        CASE WHEN substr(md5(CAST(user_id AS STRING)), 1, 1)
       |               IN ('0','2','4','6','8','a','c','e')
       |             THEN 1 ELSE 0 END AS g1
       |      FROM au),
       |c AS (SELECT
       |        CAST(sum(g1) AS BIGINT) AS na,
       |        CAST(sum(1 - g1) AS BIGINT) AS nb,
       |        CAST(sum(CASE WHEN g1 = 1 THEN converted ELSE 0 END)
       |             AS BIGINT) AS xa,
       |        CAST(sum(CASE WHEN g1 = 0 THEN converted ELSE 0 END)
       |             AS BIGINT) AS xb
       |      FROM arms),
       |st AS (SELECT na, nb, xa, xb,
       |        CAST(xa AS DOUBLE) / na AS pa,
       |        CAST(xb AS DOUBLE) / nb AS pb,
       |        sqrt((CAST(xa + xb AS DOUBLE) / (na + nb))
       |             * (1.0e0 - CAST(xa + xb AS DOUBLE) / (na + nb))
       |             * (1.0e0 / na + 1.0e0 / nb)) AS se
       |      FROM c),
       |z AS (SELECT na, nb, pa, pb, se,
       |        abs(pa - pb) / se AS zeff FROM st)
       |SELECT na, nb, pa, pb, se,
       |  ${normCdf("(zeff - 1.959964e0)")} AS power_at_observed,
       |  (1.959964e0 + 8.41621e-1) * se AS mde_80
       |FROM z""".stripMargin

  def aggPowerTwoprop(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events").createOrReplaceTempView("graft_pw_events")
    s.sql("WITH " + powerSql("graft_pw_events"))
  }

  // ---------------------------------------------------------------------
  // agg_energy_distance
  // ---------------------------------------------------------------------

  /** Merged distinct-cent census of the two samples; the three
    * pairwise sums via the prefix-sum identity, all in exact
    * decimals; E = 2·S_xy/(nx·ny) − 2·S_xx/nx² − 2·S_yy/ny² in cents,
    * emitted in value units. */
  private def energySql(events: String): String =
    s"""e AS (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
       |        AS c,
       |        CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS a
       |      FROM $events
       |      WHERE event_type IN ('purchase', 'click')),
       |cs AS (SELECT c,
       |        CAST(sum(a) AS BIGINT) AS ca,
       |        CAST(sum(1 - a) AS BIGINT) AS cb
       |      FROM e GROUP BY c),
       |pre AS (SELECT c, ca, cb,
       |        CAST(coalesce(sum(ca) OVER (ORDER BY c
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |          AS BIGINT) AS cumA,
       |        CAST(coalesce(sum(cb) OVER (ORDER BY c
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |          AS BIGINT) AS cumB,
       |        CAST(coalesce(sum(CAST(ca AS DECIMAL(38,0)) * c)
       |          OVER (ORDER BY c
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |          CAST(0 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sumA,
       |        CAST(coalesce(sum(CAST(cb AS DECIMAL(38,0)) * c)
       |          OVER (ORDER BY c
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |          CAST(0 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sumB
       |      FROM cs),
       |s AS (SELECT
       |        CAST(sum(ca) AS BIGINT) AS nx,
       |        CAST(sum(cb) AS BIGINT) AS ny,
       |        CAST(sum(CAST(cb AS DECIMAL(38,0))
       |               * (CAST(c AS DECIMAL(38,0)) * cumA - sumA)
       |             + CAST(ca AS DECIMAL(38,0))
       |               * (CAST(c AS DECIMAL(38,0)) * cumB - sumB))
       |          AS DECIMAL(38,0)) AS sxy,
       |        CAST(sum(CAST(ca AS DECIMAL(38,0))
       |               * (CAST(c AS DECIMAL(38,0)) * cumA - sumA))
       |          AS DECIMAL(38,0)) AS sxx,
       |        CAST(sum(CAST(cb AS DECIMAL(38,0))
       |               * (CAST(c AS DECIMAL(38,0)) * cumB - sumB))
       |          AS DECIMAL(38,0)) AS syy
       |      FROM pre)
       |SELECT nx, ny,
       |  (2.0e0 * CAST(sxy AS DOUBLE) / (CAST(nx AS DOUBLE) * ny)
       |   - 2.0e0 * CAST(sxx AS DOUBLE) / (CAST(nx AS DOUBLE) * nx)
       |   - 2.0e0 * CAST(syy AS DOUBLE) / (CAST(ny AS DOUBLE) * ny))
       |  / 1.0e2 AS energy_dist
       |FROM s""".stripMargin

  def aggEnergyDistance(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events").createOrReplaceTempView("graft_en_events")
    s.sql("WITH " + energySql("graft_en_events"))
  }

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("events_markov_entropy", eventsMarkovEntropy,
      "WITH " + markovEntropySql("events")),
    QueryDef("agg_power_twoprop", aggPowerTwoprop,
      "WITH " + powerSql("events")),
    QueryDef("agg_energy_distance", aggEnergyDistance,
      "WITH " + energySql("events")))
}
