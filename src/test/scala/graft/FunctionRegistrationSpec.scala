package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.core.GraftSession
import graft.plans.{GraftExtensions, GraftFunctions}

/** `GraftFunctions.register` runs on every `GraftSession.get()`, over
  * functions `GraftExtensions` already injected. It must register only the names the session lacks: each
  * replacement is a registry write and a Spark WARN line. The same
  * holds for the UDF queries' own functions, and a session configured
  * only through `spark.sql.extensions` must get every graft function. */
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

  test("GraftExtensions injects every function of the table") {
    val injected = Seq.newBuilder[String]
    val recording = new SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit = {
        injected += f._1.funcName
        super.injectFunction(f)
      }
    }
    new GraftExtensions()(recording)
    assert(injected.result().sorted == names.sorted)
    assert(GraftFunctions.functions.map(_.name).sorted == names.sorted)
  }

  test("running a UDF query twice leaves its function's registry entry as it was") {
    val registry = spark.sessionState.functionRegistry
    for ((query, fn) <- Seq("udf_magnitude_sql" -> "parse_magnitude",
        "udf_sql_function" -> "graft_disc_price")) {
      def entry = registry.lookupFunctionBuilder(FunctionIdentifier(fn))
      SparkEntry.queries(query)(spark, sf).collect()
      val first = entry
      assert(first.isDefined, s"$query did not register $fn")
      SparkEntry.queries(query)(spark, sf).collect()
      assert(entry.get eq first.get, s"$query registered $fn again")
    }
  }
}
