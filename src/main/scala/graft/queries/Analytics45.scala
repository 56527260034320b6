package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables

/** Round-11 batch Z: the experimentation-platform daily checks.
  *
  *  - `events_cuped` — CUPED variance reduction (Deng et al. 2013,
  *    the public Microsoft experimentation technique): per-user
  *    pre-period metric as the covariate, θ = cov(pre,post)/var(pre),
  *    adjusted-metric variance and the achieved reduction. Per-user
  *    sums ride DECIMAL(18,2) (event values are 2-decimal rationals —
  *    exact), user-level moments are DECIMAL-pinned.
  *  - `events_srm_check` — sample-ratio-mismatch χ²: users are
  *    deterministically assigned to arms by an md5 parity lattice
  *    (first hex nibble even/odd — pure string compare, no hex
  *    decode needed), observed counts tested against the 50/50
  *    design. The daily gate every experimentation platform runs
  *    before trusting a readout.
  *  - `agg_cpk` — process capability Cp / Cpk per event type against
  *    fixed spec limits [10, 90]: exact decimal moments, σ via the
  *    IEEE-exact chain, the min() spelling for one-sided capability.
  */
object Analytics45 {

  // ---------------------------------------------------------------------
  // events_cuped
  // ---------------------------------------------------------------------

  /** Pre/post cut at 2024-01-16 00:00 UTC (the events fixture spans
    * January 2024 at every sf), compared in integer microseconds so
    * both engines see the same numbers. Users missing a side carry an
    * exact 0 (the standard treatment). */
  private def cupedSql(events: String, epochUs: String => String): String =
    s"""e AS (SELECT user_id, CAST(value AS DECIMAL(18,2)) AS v,
       |        ${epochUs("ts")} < 1705363200000000 AS pre
       |      FROM $events),
       |u AS (SELECT user_id,
       |        CAST(sum(CASE WHEN pre THEN v
       |                      ELSE CAST(0 AS DECIMAL(18,2)) END)
       |             AS DOUBLE) AS x,
       |        CAST(sum(CASE WHEN NOT pre THEN v
       |                      ELSE CAST(0 AS DECIMAL(18,2)) END)
       |             AS DOUBLE) AS y
       |      FROM e GROUP BY user_id),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |        CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
       |        CAST(sum(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
       |        CAST(sum(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
       |        CAST(sum(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
       |        CAST(sum(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy
       |      FROM u)
       |SELECT n AS n_users,
       |  (sxy - sx * sy / n) / (sxx - sx * sx / n) AS theta,
       |  (syy - sy * sy / n) / n AS var_post,
       |  (syy - sy * sy / n) / n
       |    - ((sxy - sx * sy / n) / (sxx - sx * sx / n))
       |      * ((sxy - sx * sy / n) / (sxx - sx * sx / n))
       |      * ((sxx - sx * sx / n) / n) AS var_cuped,
       |  ((sxy - sx * sy / n) / (sxx - sx * sx / n))
       |    * ((sxy - sx * sy / n) / (sxx - sx * sx / n))
       |    * ((sxx - sx * sx / n) / n)
       |    / ((syy - sy * sy / n) / n) AS var_reduction
       |FROM m""".stripMargin

  def eventsCuped(s: SparkSession, dir: String): DataFrame = {
    Tables.sql(s, dir, "WITH " + cupedSql("events",
      ts => s"unix_micros($ts)"))
  }

  // ---------------------------------------------------------------------
  // events_srm_check
  // ---------------------------------------------------------------------

  /** Assignment = parity of the first md5 hex nibble of the user id —
    * a pure string membership test, identical in both engines (no
    * hex→int decode). χ² against 50/50 is exact rational arithmetic
    * over integer counts, so the emitted double is bit-identical and
    * the α=0.05 flag (3.841 cutoff) cannot flip cross-engine. */
  private def srmSql(events: String): String =
    s"""au AS (SELECT DISTINCT user_id FROM $events),
       |arms AS (SELECT user_id,
       |    CASE WHEN substr(md5(CAST(user_id AS STRING)), 1, 1)
       |           IN ('0','2','4','6','8','a','c','e')
       |         THEN 'A' ELSE 'B' END AS arm
       |  FROM au),
       |c AS (SELECT
       |    CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_a,
       |    CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_b
       |  FROM arms)
       |SELECT n_a, n_b,
       |  (CAST(n_a AS DOUBLE) - (n_a + n_b) / 2.0)
       |    * (CAST(n_a AS DOUBLE) - (n_a + n_b) / 2.0)
       |    / (CAST(n_a + n_b AS DOUBLE) / 2.0)
       |  + (CAST(n_b AS DOUBLE) - (n_a + n_b) / 2.0)
       |    * (CAST(n_b AS DOUBLE) - (n_a + n_b) / 2.0)
       |    / (CAST(n_a + n_b AS DOUBLE) / 2.0) AS chi2,
       |  (CAST(n_a AS DOUBLE) - (n_a + n_b) / 2.0)
       |    * (CAST(n_a AS DOUBLE) - (n_a + n_b) / 2.0)
       |    / (CAST(n_a + n_b AS DOUBLE) / 2.0)
       |  + (CAST(n_b AS DOUBLE) - (n_a + n_b) / 2.0)
       |    * (CAST(n_b AS DOUBLE) - (n_a + n_b) / 2.0)
       |    / (CAST(n_a + n_b AS DOUBLE) / 2.0) > 3.841 AS srm_flag
       |FROM c""".stripMargin

  // ---------------------------------------------------------------------
  // agg_cpk
  // ---------------------------------------------------------------------

  /** Cp = (USL−LSL)/6σ, Cpk = min(USL−μ, μ−LSL)/3σ per event type,
    * spec limits [10, 90] on the 2-decimal value. μ and the central
    * second moment come from exact decimal sums; σ = sqrt(c2/(n−1))
    * is the only irrational (correctly-rounded sqrt of identical
    * doubles). least() keeps the one-sided index exact. */
  private def cpkSql(events: String): String =
    s"""m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv,
       |        CAST(sum(CAST(value AS DECIMAL(18,2))
       |                 * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS svv
       |      FROM $events GROUP BY 1)
       |SELECT event_type, n, sv / n AS mu,
       |  sqrt((svv - sv * sv / n) / (n - 1)) AS sigma,
       |  (90.0 - 10.0)
       |    / (6.0 * sqrt((svv - sv * sv / n) / (n - 1))) AS cp,
       |  least(90.0 - sv / n, sv / n - 10.0)
       |    / (3.0 * sqrt((svv - sv * sv / n) / (n - 1))) AS cpk
       |FROM m""".stripMargin

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("events_cuped", eventsCuped, "WITH " + cupedSql("events",
      ts => s"epoch_us(CAST($ts AS TIMESTAMP))")),
    QueryDef.sql("events_srm_check", "WITH " + srmSql("events")),
    QueryDef.sql("agg_cpk", "WITH " + cpkSql("events")))
}
