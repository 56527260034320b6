package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.core.GraftSession

/** `GraftFunctions.register` runs on every `GraftSession.get()` (and in
  * three `Relational` queries), over functions `GraftExtensions` already
  * injected. It must register only the names the session lacks: each
  * replacement is a registry write and a Spark WARN line. */
class FunctionRegistrationSpec extends SparkTestBase {

  private val names = Seq("cosine_sim", "dot_product", "dot_product_d", "jaro_winkler",
    "word_shingles", "md5_band_hashes", "sorted_intersect_size", "bitmap_distinct",
    "cms_estimate", "heavy_hitters")

  test("a second GraftSession.get() leaves every graft function builder as it was") {
    val registry = spark.sessionState.functionRegistry
    def builders = names.map(n => n -> registry.lookupFunctionBuilder(FunctionIdentifier(n)))
    val before = builders
    assert(before.forall(_._2.isDefined), s"unregistered: ${before.filter(_._2.isEmpty)}")
    assert(GraftSession.get("4") eq spark)
    builders.zip(before).foreach { case ((n, now), (_, was)) =>
      assert(now.get eq was.get, s"$n was registered again")
    }
  }
}
