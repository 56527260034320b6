package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.call_function

/** Runtime registration of graft's native Catalyst expressions so they
  * are callable from SQL text and via `call_function` from the
  * DataFrame API. Idempotent: a name the session's registry already
  * has (injected by [[GraftExtensions]], or registered by an earlier
  * call) is left as it is, so repeated calls replace nothing.
  */
object GraftFunctions {
  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> (exprs => CosineSimilarity(exprs(0), exprs(1))),
    "dot_product" -> (exprs => DotProduct(exprs(0), exprs(1))),
    "dot_product_d" -> (exprs => DotProductDouble(exprs(0), exprs(1))),
    "jaro_winkler" -> (exprs => JaroWinkler(exprs(0), exprs(1))),
    "word_shingles" -> (exprs => WordShingles(exprs(0))),
    "md5_band_hashes" -> (exprs => Md5BandHashes(exprs(0))),
    "sorted_intersect_size" -> (exprs => SortedIntersectSize(exprs(0), exprs(1))),
    "bitmap_distinct" -> (exprs => {
      require(exprs.length == 2,
        "bitmap_distinct(key, maxKey) takes exactly 2 arguments")
      require(exprs(1).foldable,
        "bitmap_distinct maxKey must be a literal (foldable) integer, " +
          s"got non-foldable expression: ${exprs(1).sql}")
      val mk = exprs(1).eval() match {
        case n: Number => n.intValue()
        case other => throw new IllegalArgumentException(
          s"bitmap_distinct maxKey must be numeric, got $other")
      }
      BitmapDistinct(exprs(0), mk).toAggregateExpression()
    }),
    "cms_estimate" -> (exprs => {
      require(exprs.length == 4,
        "cms_estimate(key, probe, depth, width) takes exactly 4 arguments")
      val lits = exprs.drop(1).zip(Seq("probe", "depth", "width")).map {
        case (e, name) =>
          require(e.foldable,
            s"cms_estimate $name must be a literal, got: ${e.sql}")
          e.eval() match {
            case n: Number => n.longValue()
            case other => throw new IllegalArgumentException(
              s"cms_estimate $name must be numeric, got $other")
          }
      }
      CountMinSketch(exprs(0), lits(0), lits(1).toInt, lits(2).toInt)
        .toAggregateExpression()
    }),
    "heavy_hitters" -> (exprs => {
      require(exprs.length == 2,
        "heavy_hitters(key, k) takes exactly 2 arguments")
      require(exprs(1).foldable,
        s"heavy_hitters k must be a literal, got: ${exprs(1).sql}")
      val kk = exprs(1).eval() match {
        case n: Number => n.intValue()
        case other => throw new IllegalArgumentException(
          s"heavy_hitters k must be numeric, got $other")
      }
      MisraGries(exprs(0), kk).toAggregateExpression()
    }))

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, build) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, build, "built-in")
    }
  }

  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)
  def dotProduct(a: Column, b: Column): Column = call_function("dot_product", a, b)
  def wordShingles(tokens: Column): Column = call_function("word_shingles", tokens)
  def md5BandHashes(sh: Column): Column = call_function("md5_band_hashes", sh)
  def sortedIntersectSize(a: Column, b: Column): Column =
    call_function("sorted_intersect_size", a, b)
}
