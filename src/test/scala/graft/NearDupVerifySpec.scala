package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.graftbridge.PlanDf

import graft.core.{CkptTap, Tables}
import graft.queries.LlmText

/** The near-dup pair memo (`llm_minhash_neardup`) groups each (band,
  * sig) bucket once to emit its candidate pairs, and verifies each pair
  * by intersecting the two documents' sorted shingle-hash arrays. Both
  * are checked against an in-test reference, and the verify's plan must
  * run one row per pair: no join on a shingle, no regrouping of pairs,
  * and no `array_intersect` hash set per pair. */
class NearDupVerifySpec extends SparkTestBase {
  import spark.implicits._

  // sf0.001 and the sf0.01 fixture beside it
  private val scales =
    Seq("sf0.001", "sf0.01").map(new java.io.File(sf).getParent + "/" + _)

  /** Pairs (a < b) sharing a (band, sig) bucket of 2..HotBucketCap
    * docs, with their exact distinct word-3-gram Jaccard, kept at
    * >= 0.5, all computed in plain Scala over collected rows. */
  private def reference(dir: String): Set[(Long, Long, Double)] = {
    val sigs = LlmText.minhashSignatures(spark, dir)
      .select($"doc_id", $"band", $"sig").as[(Long, Int, String)].collect()
    val cands = sigs.groupBy(r => (r._2, r._3)).values
      .map(_.map(_._1).sorted)
      .filter(b => b.length >= 2 && b.length <= LlmText.HotBucketCap)
      .flatMap(b => b.combinations(2).map(p => (p(0), p(1))))
      .toSet
    val shingles = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, text) =>
        id -> text.split(" ", -1).sliding(3).filter(_.length == 3)
          .map(_.mkString(" ")).toSet
      }.toMap
    cands.map { case (a, b) =>
      val (sa, sb) = (shingles(a), shingles(b))
      val inter = (sa intersect sb).size.toLong
      (a, b, inter.toDouble / (sa.size.toLong + sb.size.toLong - inter).toDouble)
    }.filter(_._3 >= 0.5)
  }

  /** Every physical operator of a plan, AQE wrappers unwrapped. */
  private def operators(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => operators(a.executedPlan)
    case q: QueryStageExec => operators(q.plan)
    case other => other +: other.children.flatMap(operators)
  }

  /** The near-dup memo's verify: the pre-checkpoint plan whose output
    * is the pair table, captured while the memo is rebuilt. */
  private def verifyPlan(dir: String): SparkPlan = {
    CkptTap.start()
    val tapped =
      try {
        CkptTap.labeled("neardup-verify") {
          LlmText.releaseMemo(spark)
          LlmText.minhashNearDup(spark, dir)
        }
        CkptTap.stop()
      } finally CkptTap.stop()
    val verify = tapped.map(_.plan)
      .filter(_.output.map(_.name) == Seq("doc_a", "doc_b", "jaccard"))
    assert(verify.size == 1, s"${verify.size} pair-table plans captured")
    PlanDf.ofRows(spark, verify.head).queryExecution.executedPlan
  }

  for (dir <- scales) {
    val scale = dir.split('/').last

    test(s"$scale: minhashNearDup equals the in-test bucket + Jaccard reference") {
      val got = LlmText.minhashNearDup(spark, dir)
        .select($"doc_a", $"doc_b", $"jaccard").as[(Long, Long, Double)].collect()
      assert(got.length == got.toSet.size, "duplicate pairs in the pair table")
      val want = reference(dir)
      assert(want.nonEmpty, s"no near-dup pairs at $scale: the check would be vacuous")
      assert(got.toSet == want,
        s"missing ${(want -- got).take(5)}; unexpected ${(got.toSet -- want).take(5)}")
    }

    test(s"$scale: the verify joins no shingle and regroups no pair") {
      val ops = operators(verifyPlan(dir))
      val joins = ops.collect { case j: BaseJoinExec => j }
      assert(joins.nonEmpty, s"no join in the verify:\n${ops.head}")
      val shingleKeyed = joins.filter(j =>
        (j.leftKeys ++ j.rightKeys).flatMap(_.references).exists(_.name == "sh"))
      assert(shingleKeyed.isEmpty,
        s"the verify joins on the shingle column:\n${ops.head}")
      val pairAggs = ops.collect { case a: BaseAggregateExec => a }
        .filter(_.groupingExpressions.map(_.name).toSet == Set("doc_a", "doc_b"))
      assert(pairAggs.isEmpty,
        s"the verify regroups rows by (doc_a, doc_b):\n${ops.head}")
      // the overlap is one sorted merge per pair, not hash sets
      val fns = ops.flatMap(_.expressions).flatMap(_.collect { case e => e.prettyName })
      assert(!fns.contains("array_intersect"),
        s"the verify builds array_intersect hash sets:\n${ops.head}")
      assert(fns.contains("sorted_intersect_size"),
        s"the verify does not size the overlap by sorted merge:\n${ops.head}")
    }
  }
}
