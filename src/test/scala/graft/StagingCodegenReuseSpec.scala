package graft

import org.apache.spark.metrics.source.CodegenMetrics

import graft.core.GraftSession
import graft.queries.LlmText

/** A staging cycle (release the memos, rebuild `llm_stage_index`, run
  * its consumers) cycles through more generated classes than Spark's
  * default codegen cache holds (100), so with the default every warm
  * rebuild recompiles classes it compiled one cycle earlier.
  * `GraftSession` pins the cache to the measured working set; a second
  * cycle must then compile nothing. The consumers are the benchmark's
  * `llm_staging` cycle plus `llm_cc_altstar`, which reads the
  * `llm_dedup_clusters` memo and so must add no plan of its own, and
  * `llm_incremental_dedup`, whose plans are each one chain of shuffles,
  * so the order in which AQE creates their stages cannot vary. */
class StagingCodegenReuseSpec extends SparkTestBase {
  private val cycle = Seq("llm_stage_index", "llm_minhash_sigs",
    "llm_minhash_neardup", "llm_dedup_clusters", "llm_cc_altstar",
    "llm_dedup_apply", "llm_dedup_stats", "llm_cross_source_overlap",
    "llm_dedup_threshold_sweep", "llm_pipeline_e2e", "llm_incremental_dedup")

  /** Classes compiled by the cycle's queries. */
  private def runCycle(): Long = cycle.map { q =>
    val n0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    SparkEntry.queries(q)(spark, sf).write.mode("overwrite").format("noop").save()
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0
  }.sum

  test("the codegen cache size is pinned on the session") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries)
  }

  test("a warm staging rebuild and its consumers compile no new classes") {
    LlmText.releaseMemo(spark)
    runCycle()
    LlmText.releaseMemo(spark)
    val compiled = runCycle()
    assert(compiled == 0L, s"a warm staging cycle compiled $compiled classes")
  }
}
