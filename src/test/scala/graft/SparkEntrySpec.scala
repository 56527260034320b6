package graft

/** `SparkEntry` merges every family's `QueryDef`s into its query and
  * oracle maps; a name defined twice must fail the merge, not silently
  * keep the later entry. */
class SparkEntrySpec extends org.scalatest.funsuite.AnyFunSuite {

  test("a name defined twice fails the merge, naming it") {
    val err = intercept[IllegalArgumentException] {
      SparkEntry.merged(Seq(Map("q_a" -> 1, "q_b" -> 2), Map("q_c" -> 3), Map("q_b" -> 4)))
    }
    assert(err.getMessage.contains("q_b"))
    assert(!err.getMessage.contains("q_a"))
  }

  test("the registry's own families define every name once") {
    assert(SparkEntry.queries.nonEmpty)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }
}
