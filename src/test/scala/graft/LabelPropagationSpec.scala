package graft

import org.apache.spark.sql.functions.col

import graft.operators.ConnectedComponents
import graft.queries.LlmText

/** `llm_dedup_clusters` labels near-dup components by min-label
  * propagation. A label travels one hop per step, so a chain longer than
  * any fixed step budget must still end in one component. */
class LabelPropagationSpec extends SparkTestBase {
  import spark.implicits._

  test("a 40-hop near-dup chain is one component, as star contraction finds") {
    // Ids rise along the path, so the minimum label starts at one end
    // and needs all 40 hops to reach the other.
    val pairs = (100L until 140L).map(a => (a, a + 1)).toDF("doc_a", "doc_b")
    val (labels, steps) = LlmText.minLabelComponents(pairs)
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got.size == 41)
    assert(got.values.toSet == Set(100L), s"labels after $steps steps")
    assert(steps >= 40)

    val stars = ConnectedComponents.components(spark,
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
    assert(stars.as[(Long, Long)].collect().toMap == got)
  }

  test("the fixture's near-dup graph converges in the same steps as before") {
    // One round of two steps, as with the old 26-step cap on every
    // fixture (sf0.001, sf0.01, sf0.1).
    val pairs = LlmText.minhashNearDup(spark, sf).select("doc_a", "doc_b")
    val (_, steps) = LlmText.minLabelComponents(pairs)
    assert(steps == 2)
  }
}
