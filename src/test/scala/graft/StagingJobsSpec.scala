package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftshims.DatasetShim.drainListeners

import graft.queries.LlmText

/** A warm `llm_stage_index` rebuild runs a pinned number of Spark jobs,
  * and every one of them but the result write runs inside a memo build:
  * the row counts the query reports are observed on the memo
  * checkpoints' own jobs, so no job runs only to count. A change that
  * adds a job to the build shows here before it shows in wall time. */
class StagingJobsSpec extends SparkTestBase {

  private val sf001 = new java.io.File(sf).getParent + "/sf0.01"

  /** The Spark jobs `body` started, by the memo building when each
    * started (`LlmText.MemoJobProperty`), `none` outside any build. */
  private def jobsByMemo(body: => Unit): Map[String, Int] = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val m = Option(e.properties)
          .flatMap(p => Option(p.getProperty(LlmText.MemoJobProperty)))
          .getOrElse("none")
        jobs.merge(m, 1, (a: Integer, b: Integer) => a + b)
      }
    }
    drainListeners(sc)
    sc.addSparkListener(l)
    try {
      body
      drainListeners(sc)
      import scala.jdk.CollectionConverters._
      jobs.asScala.map { case (k, v) => k -> v.intValue }.toMap
    } finally sc.removeSparkListener(l)
  }

  private def stageIndex(): Unit =
    SparkEntry.queries("llm_stage_index")(spark, sf001)
      .write.mode("overwrite").format("noop").save()

  test("a warm llm_stage_index rebuild at sf0.01 runs a pinned number of jobs") {
    try {
      LlmText.releaseMemo(spark)
      stageIndex()
      LlmText.releaseMemo(spark)
      val jobs = jobsByMemo(stageIndex())
      assert(jobs.getOrElse("none", 0) == 1,
        s"jobs outside a memo build other than the result write: $jobs")
      assert(jobs.values.sum == ExpectedJobs, s"the rebuild ran $jobs")
    } finally LlmText.releaseMemo(spark)
  }

  private val ExpectedJobs = 18
}
