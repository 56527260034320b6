package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.QueryDef
import graft.core.Tables

/** Round-11 batch Q: empirical-Bayes estimation, population
  * estimation, corpus subsampling, and master-data survivorship.
  *
  *  - `agg_beta_binomial_eb` — empirical-Bayes shrinkage of per-nation
  *    'F'-status rates: method-of-moments Beta prior across the 25
  *    groups, per-group posterior means (α+x)/(α+β+n) — the standard
  *    cure for small-sample rate league tables.
  *  - `agg_capture_recapture` — Chapman's mark-recapture population
  *    estimate from pre/post user sightings, vs the true census the
  *    fixture lets us check.
  *  - `llm_subsample_frequent` — word2vec frequent-word subsampling
  *    probabilities (Mikolov 2013, t = 1e-4): p_keep = √(t/f) + t/f
  *    capped at 1, expected surviving mass per word.
  *  - `etl_dedup_survivorship` — golden-record merge: blocked
  *    candidate groups, deterministic survivorship rules (max balance
  *    wins, min key tie-break, attribute carry-over) — the MDM step
  *    after `etl_record_linkage` finds the duplicates.
  */
object Analytics37 {

  // ---------------------------------------------------------------------
  // agg_beta_binomial_eb
  // ---------------------------------------------------------------------

  /** MoM fit: μ, v over the 25 raw rates; α = μ·(μ(1−μ)/v − 1),
    * β = (1−μ)·(μ(1−μ)/v − 1); shrunk rate = (α+x)/(α+β+n). The
    * 25-term double sums drift ≤1e-13 relative — far inside the gate
    * on O(1) rates (the `graph_assortativity` argument). */
  private def ebSql(orders: String, customer: String): String =
    s"""g AS (SELECT c.c_nationkey AS nat,
       |        CAST(sum(CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0
       |                 END) AS BIGINT) AS x,
       |        CAST(count(*) AS BIGINT) AS n
       |      FROM $orders o JOIN $customer c ON o.o_custkey = c.c_custkey
       |      GROUP BY 1),
       |mom AS (SELECT count(*) AS k,
       |    sum(CAST(x AS DOUBLE) / n) / count(*) AS mu,
       |    (sum((CAST(x AS DOUBLE) / n) * (CAST(x AS DOUBLE) / n))
       |     - sum(CAST(x AS DOUBLE) / n) * sum(CAST(x AS DOUBLE) / n)
       |       / count(*)) / (count(*) - 1) AS v
       |  FROM g),
       |ab AS (SELECT mu, v,
       |    mu * (mu * (1.0 - mu) / v - 1.0) AS alpha,
       |    (1.0 - mu) * (mu * (1.0 - mu) / v - 1.0) AS beta
       |  FROM mom)
       |SELECT g.nat AS c_nationkey, g.x, g.n,
       |  CAST(g.x AS DOUBLE) / g.n AS raw_rate,
       |  (ab.alpha + g.x) / (ab.alpha + ab.beta + g.n) AS shrunk_rate
       |FROM g CROSS JOIN ab""".stripMargin

  // ---------------------------------------------------------------------
  // agg_capture_recapture
  // ---------------------------------------------------------------------

  /** Chapman estimator N̂ = (a+1)(b+1)/(m+1) − 1 over user sightings
    * in the pre/post halves (integer-midpoint split), with the true
    * distinct-user census alongside — on this closed population the
    * estimate should land near truth, which the spec pins loosely. */
  private def crSql(events: String, epochUs: String => String,
      intdiv: String): String =
    s"""e AS (SELECT user_id, ${epochUs("ts")} AS us FROM $events),
       |mid AS (SELECT (MIN(us) + MAX(us)) $intdiv 2 AS m FROM e),
       |u AS (SELECT e.user_id,
       |        max(CASE WHEN e.us < mid.m THEN 1 ELSE 0 END) AS pre,
       |        max(CASE WHEN e.us >= mid.m THEN 1 ELSE 0 END) AS post
       |      FROM e CROSS JOIN mid GROUP BY e.user_id),
       |c AS (SELECT CAST(count(*) AS BIGINT) AS n_true,
       |        CAST(sum(pre) AS BIGINT) AS a,
       |        CAST(sum(post) AS BIGINT) AS b,
       |        CAST(sum(CASE WHEN pre = 1 AND post = 1 THEN 1 ELSE 0
       |             END) AS BIGINT) AS m
       |      FROM u)
       |SELECT a, b, m, n_true,
       |  CAST((a + 1) * (b + 1) AS DOUBLE) / (m + 1) - 1.0 AS n_hat
       |FROM c""".stripMargin

  def aggCaptureRecapture(s: SparkSession, dir: String): DataFrame = {
    Tables.sql(s, dir, "WITH " + crSql("events",
      ts => s"unix_micros($ts)", "DIV"))
  }

  // ---------------------------------------------------------------------
  // llm_subsample_frequent
  // ---------------------------------------------------------------------

  /** word2vec subsampling: f = corpus frequency share, keep
    * probability √(t/f) + t/f capped at 1 (t = 1e-4). High-frequency
    * words are aggressively thinned; the expected surviving token
    * mass quantifies the corpus-size saving. Per-row arithmetic over
    * one word census — the same one-pass shape at any corpus size. */
  private def subsampleSql(tok: String): String =
    s"""tok AS ($tok),
       |w AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM tok
       |      WHERE w <> '' GROUP BY w),
       |tot AS (SELECT CAST(sum(freq) AS BIGINT) AS n FROM w)
       |SELECT w.w AS word, w.freq,
       |  CAST(w.freq AS DOUBLE) / tot.n AS f,
       |  least(CAST(1.0 AS DOUBLE),
       |    sqrt(0.0001 / (CAST(w.freq AS DOUBLE) / tot.n))
       |      + 0.0001 / (CAST(w.freq AS DOUBLE) / tot.n)) AS p_keep,
       |  w.freq * least(CAST(1.0 AS DOUBLE),
       |    sqrt(0.0001 / (CAST(w.freq AS DOUBLE) / tot.n))
       |      + 0.0001 / (CAST(w.freq AS DOUBLE) / tot.n))
       |    AS expected_kept
       |FROM w CROSS JOIN tot""".stripMargin

  def llmSubsampleFrequent(s: SparkSession, dir: String): DataFrame = {
    Tables.sql(s, dir, "WITH " + subsampleSql(
      "SELECT explode(split(text, ' ')) AS w FROM documents"))
  }

  // ---------------------------------------------------------------------
  // etl_dedup_survivorship
  // ---------------------------------------------------------------------

  /** Golden-record survivorship after blocking: candidate groups =
    * (nation, entity-number residue mod 50); within each group the
    * max-balance record wins (min custkey tie-break), the golden
    * record carries the winner's segment, the group's max balance and
    * member census. Deterministic rank picks — the merge step an MDM
    * pipeline runs on linkage output. */
  private def survivorshipSql(customer: String): String =
    s"""c AS (SELECT c_custkey, c_nationkey, c_mktsegment, c_acctbal,
       |        CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT) % 50
       |          AS res
       |      FROM $customer),
       |r AS (SELECT c_custkey, c_nationkey, res, c_mktsegment, c_acctbal,
       |        row_number() OVER (PARTITION BY c_nationkey, res
       |          ORDER BY c_acctbal DESC, c_custkey) AS rk
       |      FROM c),
       |g AS (SELECT c_nationkey, res,
       |        CAST(count(*) AS BIGINT) AS n_members,
       |        CAST(min(c_custkey) AS BIGINT) AS canonical_key
       |      FROM r GROUP BY 1, 2)
       |SELECT g.c_nationkey, g.res, g.n_members, g.canonical_key,
       |  w.c_custkey AS golden_custkey, w.c_mktsegment AS golden_segment,
       |  w.c_acctbal AS golden_balance
       |FROM g JOIN r w ON w.c_nationkey = g.c_nationkey
       |  AND w.res = g.res AND w.rk = 1""".stripMargin

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef.sql("agg_beta_binomial_eb",
      "WITH " + ebSql("orders", "customer")),
    QueryDef("agg_capture_recapture", aggCaptureRecapture,
      "WITH " + crSql("events",
        ts => s"epoch_us(CAST($ts AS TIMESTAMP))", "//")),
    QueryDef("llm_subsample_frequent", llmSubsampleFrequent,
      "WITH " + subsampleSql(
        "SELECT unnest(string_split(text, ' ')) AS w FROM documents")),
    QueryDef.sql("etl_dedup_survivorship",
      "WITH " + survivorshipSql("customer")))
}
