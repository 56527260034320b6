package graft

import graft.queries.LlmText

/** `llm_dedup_clusters` (and `llm_cc_altstar`, the same query) labels
  * near-dup components by min-label propagation: every node gets the
  * smallest node id of its component. A label travels one hop per step,
  * so a chain longer than any fixed step budget must still end in one
  * component. */
class LabelPropagationSpec extends SparkTestBase {
  import spark.implicits._

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] =
    LlmText.minLabelComponents(edges.toDF("doc_a", "doc_b")).labels
      .as[(Long, Long)].collect().toMap

  /** In-memory union-find with min-label roots: node -> component min. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    edges.foreach { case (a, b) => union(a, b) }
    edges.flatMap(e => Seq(e._1, e._2)).distinct.map(n => n -> find(n)).toMap
  }

  test("a 40-hop near-dup chain is one component, as union-find finds") {
    // Ids rise along the path, so the minimum label starts at one end
    // and needs all 40 hops to reach the other.
    val path = (100L until 140L).map(a => (a, a + 1))
    val LlmText.Components(labels, steps, _) =
      LlmText.minLabelComponents(path.toDF("doc_a", "doc_b"))
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got.size == 41)
    assert(got.values.toSet == Set(100L), s"labels after $steps steps")
    assert(steps >= 40)
    assert(got == unionFind(path))
  }

  test("long path converges with the minimum mid-path and edges reversed") {
    // Position 20 holds id 0; ids grow towards both ends, and every edge
    // points back towards the middle, so the label walks 20 hops each way.
    def id(p: Int): Long = (math.abs(p - 20) * 2 + (if (p < 20) 1 else 0)).toLong
    val path = (0 until 40).map(p => (id(p + 1), id(p)))
    val LlmText.Components(labels, steps, _) =
      LlmText.minLabelComponents(path.toDF("doc_a", "doc_b"))
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got.size == 41)
    assert(got.values.toSet == Set(0L), s"labels after $steps steps")
    assert(steps >= 20)
    assert(got == unionFind(path))
  }

  test("chain, triangle, and isolated pair each collapse to their min") {
    val out = run(Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),   // chain 1-2-3-4
      (10L, 11L), (11L, 12L), (12L, 10L), // triangle
      (20L, 21L)))
    assert(out == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("self-loops and duplicate/reversed edges are harmless") {
    val out = run(Seq((5L, 5L), (6L, 7L), (7L, 6L), (6L, 7L)))
    assert(out == Map(5L -> 5L, 6L -> 6L, 7L -> 6L))
  }

  test("matches a reference union-find on 12 random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 12) {
      val nNodes = rnd.nextInt(30) + 2
      val nEdges = rnd.nextInt(50) + 1
      val edges = Seq.fill(nEdges)(
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
      assert(run(edges) == unionFind(edges), s"trial $trial: $edges")
    }
  }

  test("above-cutover graph keeps the distributed path and stays correct") {
    // 60 stars x 1,000 leaves: 120,000 directed edges, over the
    // one-partition cutover, and shallow, so it converges in one round
    // (a 200-hop chain of that size would take about 200 steps).
    val edges = for {
      star <- 0L until 60L
      leaf <- 1L to 1000L
    } yield (star * 10000L, star * 10000L + leaf)
    assert(2L * edges.size >= LlmText.SmallGraphEdges,
      "fixture too small to exercise the distributed branch")
    val out = run(edges)
    assert(out.size == 60 * 1001)
    assert(out.forall { case (node, comp) => comp == (node / 10000L) * 10000L })
  }

  test("the fixture's near-dup graph converges in the same steps as before") {
    // One round of two steps, as with the old 26-step cap on every
    // fixture (sf0.001, sf0.01, sf0.1).
    val pairs = LlmText.minhashNearDup(spark, sf).select("doc_a", "doc_b")
    val steps = LlmText.minLabelComponents(pairs).steps
    assert(steps == 2)
  }
}
