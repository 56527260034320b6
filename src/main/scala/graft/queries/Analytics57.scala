package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables

/** Round-11 batch AL: two corpus-curation censuses.
  *
  *  - `llm_domain_cap` — per-source frequency capping (the C4-style
  *    domain balancing pass): each source keeps at most 20 documents,
  *    chosen by the deterministic md5 rank (content-independent,
  *    stable across partitionings and re-runs) — the cut that stops
  *    one crawler-friendly domain from dominating the mixture. One
  *    rank window per source, integer censuses only.
  *  - `llm_vocab_coverage` — the coverage curve behind "how big
  *    should the vocab be": fraction of corpus token OCCURRENCES
  *    covered by the top-k most frequent types, at k ∈ {10, 100,
  *    1000, 10000}. Rank ties pinned by (count desc, term); exact
  *    integer cumulative sums over the frequency census.
  */
object Analytics57 {

  // ---------------------------------------------------------------------
  // llm_domain_cap
  // ---------------------------------------------------------------------

  private def domainCapSql(documents: String): String =
    s"""r AS (SELECT source, doc_id,
       |        row_number() OVER (PARTITION BY source
       |          ORDER BY md5(CAST(doc_id AS STRING)), doc_id) AS rk
       |      FROM $documents)
       |SELECT source,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN rk <= 20 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_kept,
       |  CAST(sum(CASE WHEN rk > 20 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dropped
       |FROM r GROUP BY source""".stripMargin

  // ---------------------------------------------------------------------
  // llm_vocab_coverage
  // ---------------------------------------------------------------------

  /** Shared body over `tok(term)`; `kv(k)` is the engine-specific
    * candidate-size list. */
  private def vocabCoverageBody: String =
    s"""tc AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt
       |      FROM tok GROUP BY term),
       |rk AS (SELECT term, cnt,
       |        CAST(row_number() OVER (ORDER BY cnt DESC, term)
       |             AS BIGINT) AS r,
       |        CAST(sum(cnt) OVER (ORDER BY cnt DESC, term) AS BIGINT)
       |          AS cum
       |      FROM tc),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
       |          CAST(count(*) AS BIGINT) AS v FROM tc),
       |cv AS (SELECT kv.k,
       |        max(CASE WHEN rk.r <= kv.k THEN rk.cum END) AS covered
       |      FROM kv CROSS JOIN rk GROUP BY kv.k)
       |SELECT cv.k AS vocab_k, tot.v AS vocab_total, tot.n AS tokens,
       |  CAST(coalesce(cv.covered, tot.n) AS DOUBLE)
       |    / CAST(tot.n AS DOUBLE) AS coverage
       |FROM cv CROSS JOIN tot""".stripMargin

  def llmVocabCoverage(s: SparkSession, dir: String): DataFrame = {
    Tables.sql(s, dir, "WITH tok AS (SELECT explode(split(lower(text), ' ')) AS term" +
      " FROM documents),\n" +
      "kv AS (SELECT explode(array(10L, 100L, 1000L, 10000L)) AS k),\n" +
      vocabCoverageBody)
  }

  private val vocabCoverageOracleSql: String =
    """WITH tok AS (SELECT unnest(string_split(lower(text), ' ')) AS term
      |  FROM documents),
      |kv AS (SELECT CAST(unnest([10, 100, 1000, 10000]) AS BIGINT)
      |         AS k),
      |""".stripMargin + vocabCoverageBody

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef.sql("llm_domain_cap",
      "WITH " + domainCapSql("documents")),
    QueryDef("llm_vocab_coverage", llmVocabCoverage, vocabCoverageOracleSql))
}
