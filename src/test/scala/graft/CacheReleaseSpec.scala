package graft

/** End-of-run storage discipline: after CacheRelease, no persisted RDD
  * blocks remain registered with the context, and the released
  * memoized singletons recompute (rather than crash on dropped
  * localCheckpoint blocks) when used again. */
class CacheReleaseSpec extends SparkTestBase {

  test("release drops every persisted block and singletons recompute") {
    // Populate all three storage sources: the LlmText memo (shingle
    // set + near-dup pairs, localCheckpoints), the ScaleOps cached
    // reuse base (persist), and the clusters table.
    val before = SparkEntry.queries("llm_dedup_clusters")(spark, sf)
      .collect().toSet
    queries.ScaleOps.scanCachedReuse(spark, sf).collect()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "precondition: the memoizing queries should have persisted blocks")

    core.CacheRelease(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "persisted RDDs survived the release hook")
    assert(spark.sharedState.cacheManager.isEmpty,
      "plan-cache entries survived the release hook")

    // The released singletons must rebuild from source, not reference
    // dropped checkpoint blocks — and produce the same answer.
    val after = SparkEntry.queries("llm_dedup_clusters")(spark, sf)
      .collect().toSet
    assert(after == before)
    queries.ScaleOps.scanCachedReuse(spark, sf).collect()
    // Leave the suite clean for whatever runs next in the shared JVM.
    core.CacheRelease(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
