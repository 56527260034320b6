package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans: workload run → operation → phase. Each span carries
  * its parent's id; the list is written out when the run ends. With
  * tracing off every call is a plain pass-through. */
final class Tracer(val enabled: Boolean) {
  private val origin = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val open = mutable.Stack.empty[Int]
  private var lastId = 0

  private def record(id: Int, parent: Int, name: String, t0: Long, t1: Long): Unit =
    spans += Map("id" -> id, "parent" -> parent, "name" -> name,
      "start_ms" -> (t0 - origin) / 1e6, "end_ms" -> (t1 - origin) / 1e6)

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      lastId += 1
      val id = lastId
      val parent = open.headOption.getOrElse(0)
      open.push(id)
      val t0 = System.nanoTime()
      try body
      finally { open.pop(); record(id, parent, name, t0, System.nanoTime()) }
    }

  /** A child of the innermost open span whose interval was measured by
    * other means (for example Catalyst's phase tracker). */
  def child(name: String, t0: Long, t1: Long): Unit =
    if (enabled) {
      lastId += 1
      record(lastId, open.headOption.getOrElse(0), name, t0, t1)
    }

  def all: Seq[Map[String, Any]] = spans.toSeq
}

/** Per-layer counters fed by Spark's listener buses. Registered only around
  * traced units; every field is a running total over them. */
final class Layers extends SparkListener with QueryExecutionListener {
  var jobs, stages, tasks, failedTasks = 0L
  var taskRunMs, taskCpuNs, gcMs = 0L
  var bytesRead, recordsRead = 0L
  var shuffleWriteBytes, shuffleReadBytes, shuffleRecords, fetchWaitMs = 0L
  var spillBytes, peakExecBytes = 0L
  var outputBytes, outputRecords, filesWritten, partitionsWritten = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  private val stageTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  val stageSkew = mutable.ArrayBuffer.empty[Double]
  val streaming = mutable.Map.empty[String, Long].withDefaultValue(0L)
  var streamInputRows = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (!e.taskInfo.successful) failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs += m.executorRunTime
      taskCpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      bytesRead += m.inputMetrics.bytesRead
      recordsRead += m.inputMetrics.recordsRead
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      spillBytes += m.diskBytesSpilled
      peakExecBytes = math.max(peakExecBytes, m.peakExecutionMemory)
      outputBytes += m.outputMetrics.bytesWritten
      outputRecords += m.outputMetrics.recordsWritten
      stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    stageTaskMs.remove(key).foreach { ts =>
      val sorted = ts.sorted
      val median = sorted(sorted.length / 2)
      if (sorted.length > 1 && median > 0) stageSkew += sorted.last.toDouble / median
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val phases = qe.tracker.phases
      def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
      analysisMs += ms("analysis")
      optimizationMs += ms("optimization")
      planningMs += ms("planning")
      qe.executedPlan.foreach {
        case w: DataWritingCommandExec =>
          val metrics = w.cmd.metrics
          filesWritten += metrics.get("numFiles").map(_.value).getOrElse(0L)
          partitionsWritten += metrics.get("numParts").map(_.value).getOrElse(0L)
        case _ =>
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Layers.this.synchronized {
        e.progress.durationMs.forEach((k, v) => streaming(k) += v.longValue)
        streamInputRows += e.progress.numInputRows
      }
  }

  def planMs: Long = synchronized { analysisMs + optimizationMs + planningMs }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streamListener)
  }

  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streamListener)
  }
}
