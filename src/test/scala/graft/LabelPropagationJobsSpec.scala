package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftshims.DatasetShim.drainListeners

import graft.queries.LlmText

/** Clustering the sf0.01 near-dup graph (`LlmText.minLabelComponents`)
  * runs a pinned number of Spark jobs. Its first propagation step is
  * one aggregation over the edges, with no join, and the steps after it
  * join the labels back inner; the edge count and the changed labels
  * are observed on the steps' own checkpoint jobs, so no job only
  * counts. A change that adds a job per step shows here before it shows
  * in the staging build's wall time. */
class LabelPropagationJobsSpec extends SparkTestBase {

  private val sf001 = new java.io.File(sf).getParent + "/sf0.01"

  /** Runs `body` and returns its value with the number of Spark jobs it
    * started. */
  private def countingJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    drainListeners(sc)
    sc.addSparkListener(l)
    try {
      val r = body
      drainListeners(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  test("clustering the sf0.01 near-dup graph runs a pinned number of jobs") {
    val pairs = LlmText.minhashNearDup(spark, sf001).select("doc_a", "doc_b")
    val (LlmText.Components(labels, steps, _), jobs) =
      countingJobs(LlmText.minLabelComponents(pairs))
    assert(steps == 2)
    assert(labels.count() > 0)
    assert(jobs == ExpectedJobs, s"minLabelComponents ran $jobs Spark jobs")
  }

  private val ExpectedJobs = 4
}
