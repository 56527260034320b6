package graft

import org.apache.spark.{SparkException, SparkThrowable}
import org.apache.spark.sql.graftshims.DatasetShim

import graft.queries.LlmText

/** The staging memos are eager local checkpoints: their lineage is
  * truncated, so a lost block cannot be recomputed. A consumer that hits
  * one must fail with Spark's clear error, never return a wrong answer,
  * and `releaseMemo` must be the way back to a correct result. */
class MemoBlockLossSpec extends SparkTestBase {

  private def nearDups(): Set[org.apache.spark.sql.Row] =
    SparkEntry.queries("llm_minhash_neardup")(spark, sf).collect().toSet

  /** The conditions of `e` and of every exception in its cause chain. */
  private def conditions(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).collect {
      case t: SparkThrowable if t.getCondition != null => t.getCondition
    }.toSeq

  test("a lost memo block is a clear error, and releaseMemo recovers") {
    try {
      LlmText.releaseMemo(spark)
      SparkEntry.queries("llm_stage_index")(spark, sf).collect()
      val expected = nearDups()
      assert(expected.nonEmpty)

      val rdds =
        DatasetShim.checkpointedRdds(LlmText.minhashNearDup(spark, sf))
      assert(rdds.nonEmpty, "the near-dup memo is not a checkpoint")
      rdds.foreach(_.unpersist(blocking = true))

      val e = intercept[SparkException](nearDups())
      assert(conditions(e).contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"),
        s"unexpected failure: $e")

      LlmText.releaseMemo(spark)
      assert(nearDups() == expected)
    } finally LlmText.releaseMemo(spark)
  }

  /** `llm_stage_index`'s rows: relation -> n_rows. */
  private def stageCounts(): Map[String, Long] =
    SparkEntry.queries("llm_stage_index")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("llm_stage_index reports build-time counts, and fresh ones after releaseMemo") {
    try {
      LlmText.releaseMemo(spark)
      val counts = stageCounts()
      assert(counts.keySet == Set("dedup_clusters", "minhash_band_sigs",
        "minhash_neardup_pairs", "shingle_positions", "shingle_set"))
      assert(counts.values.forall(_ > 0), counts)
      assert(counts("minhash_band_sigs") == LlmText.minhashSignatures(spark, sf).count())
      assert(counts("minhash_neardup_pairs") == LlmText.minhashNearDup(spark, sf).count())
      assert(counts("dedup_clusters") == LlmText.dedupClusters(spark, sf).count())

      // The counts were recorded at build time: a lost block does not
      // reach them, while a consumer of the memo still fails clearly.
      DatasetShim.checkpointedRdds(LlmText.minhashNearDup(spark, sf))
        .foreach(_.unpersist(blocking = true))
      assert(stageCounts() == counts)
      val e = intercept[SparkException](nearDups())
      assert(conditions(e).contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"),
        s"unexpected failure: $e")

      // After a release every memo is built and counted again.
      LlmText.releaseMemo(spark)
      LlmText.clearStageTimings()
      assert(stageCounts() == counts)
      assert(LlmText.stageTimings.map(_._1.takeWhile(_ != ':')).sorted ==
        Seq("clusters", "neardup", "shingleset", "shpos", "sigs"))
      assert(nearDups().size == counts("minhash_neardup_pairs"))
    } finally LlmText.releaseMemo(spark)
  }
}
