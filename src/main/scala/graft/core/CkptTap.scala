package graft.core

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{Column, Dataset, Observation}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.{count, lit}

/** Pre-truncation plan tap for every `localCheckpoint` call site in the
  * engine.
  *
  * Why it exists: an eager checkpoint materializes a frame and
  * replaces its logical plan with a `LogicalRDD` leaf. That is the
  * right execution call (iterative plans stay linear, shared memos
  * build once) but it BLINDS the registry-wide plan censuses
  * (SelfJoinCensusSpec, BroadcastCensusSpec): any self-join or forced
  * broadcast INSIDE the checkpointed frame is invisible in the
  * query's final optimized plan — the r13 round found `part` forced
  * broadcast behind `agg_market_basket`'s checkpoint only by hand.
  * This shim closes that hole: every engine checkpoint goes through
  * [[TapSyntax.tappedLocalCheckpoint]], which — ONLY while a census
  * has the tap enabled — records the frame's optimized plan
  * (pre-truncation) tagged with the census's thread-local label
  * before delegating to Spark. A source-scan
  * guard test (CkptTapCoverageSpec) fails the build if a raw
  * `.checkpoint(`/`.localCheckpoint(` call appears in `src/main`
  * outside this file, so new sites cannot dodge the censuses.
  *
  * Production cost: one `AtomicBoolean`-style volatile read per
  * checkpoint call — nothing is analyzed or stored unless a census
  * enabled the tap, so the graded paths are unaffected.
  */
object CkptTap {

  final case class Tapped(label: String, plan: LogicalPlan)

  @volatile private var enabled = false
  private val buf = new ConcurrentLinkedQueue[Tapped]
  private val label = new ThreadLocal[String]

  /** Enable the tap process-wide and run `body` with `tag` as this
    * thread's label; returns the body's result. Labels attribute
    * tapped plans to the census unit that triggered the build (a
    * memo built during another query's sweep carries the FIRST
    * builder's label — census consumers therefore pool plans by the
    * label's dir component, not by query). */
  def labeled[T](tag: String)(body: => T): T = {
    val prev = label.get()
    label.set(tag)
    try body finally label.set(prev)
  }

  /** Start collecting (clears any previous capture). */
  def start(): Unit = { buf.clear(); enabled = true }

  /** Stop collecting and return everything captured since start(). */
  def stop(): Seq[Tapped] = {
    enabled = false
    val out = Seq.newBuilder[Tapped]
    var t = buf.poll()
    while (t != null) { out += t; t = buf.poll() }
    out.result()
  }

  private def record(ds: Dataset[_]): Unit =
    if (enabled) {
      val l = label.get()
      if (l != null) buf.add(Tapped(l, ds.queryExecution.optimizedPlan))
    }

  implicit final class TapSyntax[T](private val ds: Dataset[T])
      extends AnyVal {
    def tappedLocalCheckpoint(eager: Boolean = true): Dataset[T] = {
      record(ds)
      ds.localCheckpoint(eager)
    }

    /** An eager [[tappedLocalCheckpoint]] that also evaluates the
      * aggregate `metrics` (each named by `.as`) over the rows it
      * materializes, through an [[Observation]] on the checkpoint's own
      * job: no second job reads the checkpoint to count it. Returns the
      * checkpoint and the metric values by name. */
    def observedLocalCheckpoint(metrics: Column*): (Dataset[T], Map[String, Any]) = {
      val obs = Observation()
      val cp = ds.observe(obs, metrics.head, metrics.tail: _*).tappedLocalCheckpoint()
      (cp, obs.get)
    }

    /** [[observedLocalCheckpoint]] of the row count alone. */
    def countedLocalCheckpoint(): (Dataset[T], Long) = {
      val (cp, m) = observedLocalCheckpoint(count(lit(1)).as("n_rows"))
      (cp, m("n_rows").asInstanceOf[Long])
    }
  }
}
