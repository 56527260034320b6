package graft

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{HintInfo, Join, LogicalPlan, BROADCAST}
import org.apache.spark.sql.graftbridge.PlanDf

/** Registry-wide broadcast-size census — the self-join census's
  * sibling guard. An EXPLICIT `broadcast()` hint forces a
  * BroadcastHashJoin regardless of the build side's actual size
  * (hints override `spark.sql.autoBroadcastJoinThreshold`, and AQE
  * will not demote a hinted broadcast), so a hint on a relation that
  * GROWS with the corpus is a deferred driver/executor OOM: healthy at
  * sf0.1, dead at 100 TB. Relations Spark picks for broadcast by its
  * own runtime statistics are exempt by construction — AQE re-plans
  * them to shuffle joins the moment they outgrow the threshold; only
  * the forced ones can't escape.
  *
  * The census finds every explicitly-hinted broadcast side in every
  * registry query's optimized plan, COUNTS its rows at two fixture
  * scales, and fails when a hinted side both grows materially faster
  * than fixed-size and is big enough for the growth to be signal.
  * Healthy hinted sides are scale-invariant: nation/region (constant
  * at every TPC-H SF), fixed query sets, per-label/per-flag
  * aggregates of bounded cardinality, single-row scalar attachments.
  *
  * The r13 blind spot — a query that eagerly MATERIALIZES its joins
  * during construction (localCheckpoint memos) presents the census an
  * optimized plan whose joins are already collapsed into LogicalRDD
  * leaves — is closed by the CkptTap shim: every engine checkpoint
  * records its frame's pre-truncation plan while a census sweep has
  * the tap enabled (CkptTapCoverageSpec pins that no raw checkpoint
  * call can bypass the shim), and those plans are censused alongside
  * the visible ones, pooled per scale dir. The checkpointed positive
  * control below is the red-on-offender proof.
  */
class BroadcastCensusSpec extends SparkTestBase {

  // Same step as the self-join census, same reason: documents (10×),
  // embeddings (4×) and facts (10×) all move on it.
  private val sfA = "/root/testdata/sf0.01"
  private val sfB = "/root/testdata/sf0.1"

  /** A hinted side at or below this sf0.1 row count cannot matter: a
    * corpus-proportional relation measures ≥ thousands of rows at
    * sf0.1 (documents 5000, embeddings 2000, events 100k), while
    * bounded dims, query sets and per-group scalar tables sit orders
    * of magnitude below. */
  private val RowFloor = 1500L

  /** Growth past Slack× flags: a scale-invariant side measures ~1×,
    * the slowest-growing corpus table (embeddings) measures 4× on
    * this step. Between them only group-count-proportional relations
    * (per-user aggregates, per-doc tables) live. */
  private val Slack = 3.0

  /** One hinted broadcast side: a stable cross-scale signature (the
    * side's sorted output column names — attribute names don't change
    * with fixture scale) and its logical subplan. */
  private final case class Hinted(sig: String, side: LogicalPlan)

  private def hintedSides(df: DataFrame): Seq[Hinted] = {
    def isB(h: Option[HintInfo]): Boolean = h.exists(_.strategy.contains(BROADCAST))
    df.queryExecution.optimizedPlan.collect {
      case j: Join =>
        (if (isB(j.hint.leftHint)) Seq(j.left) else Nil) ++
          (if (isB(j.hint.rightHint)) Seq(j.right) else Nil)
    }.flatten.map(p => Hinted(p.output.map(_.name).sorted.mkString(","), p))
  }

  /** Max hinted-side rows per signature for one query at one scale
    * (max, not sum: the guard is per-broadcast payload size).
    * Construction runs inside a CkptTap label so hinted joins inside
    * eagerly-checkpointed sub-frames — invisible in the final plan,
    * the r13 blind spot that hid `part`'s forced broadcast behind
    * `agg_market_basket`'s checkpoint — land in the tap's per-dir
    * pool, censused alongside the visible plans. */
  private def measureOne(name: String, dir: String): Map[String, Long] = {
    val df = graft.core.CkptTap.labeled(dir) {
      SparkEntry.queries(name)(spark, dir)
    }
    val sides = hintedSides(df)
    sides.groupBy(_.sig).map { case (sig, hs) =>
      sig -> hs.map(h => PlanDf.ofRows(spark, h.side).count()).max
    }
  }

  /** Hinted sides of the PRE-CHECKPOINT plans the tap captured during
    * the sweep, pooled per scale dir (memos are built by whichever
    * query touches them first; query attribution is meaningless). */
  private def tappedSides(tapped: Seq[graft.core.CkptTap.Tapped],
      dir: String): Map[String, Long] = {
    def isB(h: Option[HintInfo]): Boolean =
      h.exists(_.strategy.contains(BROADCAST))
    val sides = tapped.filter(_.label == dir).map(_.plan).flatMap { p =>
      p.collect {
        case j: Join =>
          (if (isB(j.hint.leftHint)) Seq(j.left) else Nil) ++
            (if (isB(j.hint.rightHint)) Seq(j.right) else Nil)
      }.flatten
    }.map(p => Hinted(p.output.map(_.name).sorted.mkString(","), p))
    sides.groupBy(_.sig).map { case (sig, hs) =>
      sig -> hs.map(h => PlanDf.ofRows(spark, h.side).count()).max
    }
  }

  /** Both scales sequentially per query (side-effecting scratch
    * writers self-collide across scales — the self-join census
    * lesson); queries run 8-way parallel. */
  private def measure(name: String)(
      implicit ec: ExecutionContext): Future[(Map[String, Long], Map[String, Long])] =
    Future { (measureOne(name, sfA), measureOne(name, sfB)) }

  /** (query, signature) pairs measured growing on this step but argued
    * bounded at scale — every entry must carry the bound. Exact
    * matching: an entry that stops flagging must be removed. */
  private val allow: Map[(String, String), String] = Map(
  )

  /** Shared growth check over (signature -> hinted-side rows). */
  private def flaggedOf(unit: String, a: Map[String, Long],
      b: Map[String, Long]): Map[(String, String), String] =
    b.toSeq.flatMap { case (sig, rb) =>
      val ra = a.getOrElse(sig, 0L)
      if (rb < RowFloor || rb <= Slack * math.max(ra, 1L)) None
      else Some(((unit, sig),
        f"$unit [$sig] hinted side $ra -> $rb rows " +
          f"(${rb.toDouble / math.max(ra, 1L)}%.1fx)"))
    }.toMap

  test("no explicitly-hinted broadcast side grows with the corpus " +
      "(forced-broadcast census incl. checkpointed plans, " +
      "sf0.01 -> sf0.1)") {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    graft.core.CkptTap.start()
    val (flagged, perQuery, tapB, t0) =
      try {
        val t0 = System.nanoTime()
        val names = SparkEntry.queries.keys.toSeq.sorted
        val futures = names.map(n => n -> measure(n))
        val perQuery = futures.map { case (n, f) =>
          n -> Await.result(f, Duration.Inf)
        }
        val visible = perQuery.flatMap { case (n, (a, b)) =>
          flaggedOf(n, a, b)
        }.toMap
        val tapped = graft.core.CkptTap.stop()
        val tapA = tappedSides(tapped, sfA)
        val tapB = tappedSides(tapped, sfB)
        (visible ++ flaggedOf("<checkpointed>", tapA, tapB),
          perQuery, tapB, t0)
      } finally {
        // A failed Await leaves the queued queries running: drain them
        // here, so they cannot run on into later suites.
        pool.shutdown()
        pool.awaitTermination(1, java.util.concurrent.TimeUnit.HOURS)
        graft.core.CkptTap.stop()
      }
    info(f"census swept ${perQuery.size} queries in " +
      f"${(System.nanoTime() - t0) / 1e9}%.0f s; " +
      s"${perQuery.count(_._2._2.nonEmpty)} with hinted broadcasts; " +
      s"${tapB.size} checkpointed hinted signatures; " +
      s"${flagged.size} flagged")
    val unexpected = flagged.keySet -- allow.keySet
    val stale = allow.keySet -- flagged.keySet
    assert(unexpected.isEmpty,
      "forced broadcasts of corpus-growing relations (a deferred OOM " +
        "at scale — drop the hint and let AQE's runtime stats decide, " +
        "or allowlist with a named bound):\n  " +
        unexpected.toSeq.sorted.map(flagged).mkString("\n  "))
    assert(stale.isEmpty,
      s"allowlist entries no longer flagged — remove them: $stale")
  }

  test("census flags a forced broadcast of a corpus-proportional " +
      "relation (positive control)") {
    import org.apache.spark.sql.functions._
    // A per-user aggregate grows with the user population — exactly
    // the shape that looks broadcastable at fixture scale and OOMs at
    // 100 TB when the hint blocks AQE from demoting it.
    def q(dir: String): DataFrame = {
      val e = spark.read.parquet(s"$dir/events.parquet")
      val perUser = e.groupBy("user_id").agg(count(lit(1)).as("n"))
      e.join(broadcast(perUser), Seq("user_id"))
    }
    def m(dir: String): Map[String, Long] =
      hintedSides(q(dir)).groupBy(_.sig).map { case (sig, hs) =>
        sig -> hs.map(h => PlanDf.ofRows(spark, h.side).count()).max
      }
    val a = m(sfA); val b = m(sfB)
    assert(b.nonEmpty, "control hinted broadcast not detected")
    val hit = b.exists { case (sig, rb) =>
      rb >= RowFloor && rb > Slack * math.max(a.getOrElse(sig, 0L), 1L)
    }
    assert(hit, s"census missed the known-growing control: a=$a b=$b")
  }

  test("tap census flags a forced broadcast of a corpus-proportional " +
      "relation hidden behind an eager checkpoint (positive control " +
      "for the r13 blind spot)") {
    import graft.core.CkptTap
    import graft.core.CkptTap._
    import org.apache.spark.sql.functions._
    // The shape that was audited by hand in r13: the hinted join is
    // materialized during construction, so the final plan the main
    // census walks carries only a LogicalRDD leaf.
    def m(dir: String): Map[String, Long] = {
      CkptTap.start()
      try {
        val downstream = CkptTap.labeled(dir) {
          val e = spark.read.parquet(s"$dir/events.parquet")
          val perUser = e.groupBy("user_id").agg(count(lit(1)).as("n"))
          e.join(broadcast(perUser), Seq("user_id"))
            .tappedLocalCheckpoint()
            .groupBy("event_type").count()
        }
        assert(hintedSides(downstream).isEmpty,
          "checkpoint no longer truncates the plan — control is stale")
        tappedSides(CkptTap.stop(), dir)
      } finally CkptTap.stop()
    }
    val a = m(sfA); val b = m(sfB)
    assert(b.nonEmpty, "tap captured no checkpointed hinted broadcast")
    assert(flaggedOf("ctl", a, b).nonEmpty,
      s"tap census missed the checkpointed growing control: a=$a b=$b")
  }
}
