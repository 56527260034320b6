package graft

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** The graded streaming queries that drain into a memory sink keep their
  * checkpoint in a fresh `ScratchDirs.perRun` directory, removed once the
  * query stops, not in a Spark `temporary-<uuid>` directory in
  * `java.io.tmpdir` that a failed or killed run leaves behind. A second
  * run in the same session must drain everything again. */
class StreamingCheckpointSpec extends SparkTestBase {

  private val graded =
    Seq("stream_dsv2", "stream_available_now", "stream_timer_sessions")

  test("each run checkpoints in its own scratch directory, removed at stop; reruns agree") {
    val tmp = new File(sys.props("java.io.tmpdir"))
    def temporaries =
      Option(tmp.list()).toSeq.flatten.filter(_.startsWith("temporary-")).toSet
    val root = new File(tmp, s"graft-${spark.sparkContext.applicationId}").getPath
    // onQueryStarted runs before start() returns, while the query is active
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        started.add(spark.streams.get(e.id).asInstanceOf[StreamingQueryWrapper]
          .streamingQuery.resolvedCheckpointRoot)
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    val before = temporaries
    spark.streams.addListener(listener)
    try graded.foreach { q =>
      started.clear()
      def run() = SparkEntry.queries(q)(spark, sf).collect().toSeq.sortBy(_.toString)
      val first = run()
      assert(first.nonEmpty, s"$q: empty answer")
      assert(run() == first, s"$q: a second run gives another answer")
      val ckpts = started.asScala.toSeq.map(c => new java.net.URI(c).getPath)
      assert(ckpts.size == 2 && ckpts.distinct.size == 2,
        s"$q: want one fresh checkpoint per run, got $ckpts")
      ckpts.foreach { c =>
        assert(c.startsWith(root + "/"), s"$q: checkpoint $c is not under $root")
        assert(!new File(c).exists, s"$q: checkpoint $c outlived its query")
      }
    } finally spark.streams.removeListener(listener)
    assert(temporaries -- before == Set.empty, "a run left a temporary-* directory")
  }
}
