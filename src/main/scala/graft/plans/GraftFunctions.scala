package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.call_function

/** graft's native Catalyst expressions, callable from SQL text and via
  * `call_function` from the DataFrame API. [[functions]] is the one
  * table of them: [[GraftExtensions]] injects every entry, and
  * [[register]] adds the entries a session's registry lacks.
  */
object GraftFunctions {
  /** One graft SQL function: its name, its usage line and its builder. */
  final case class Fn(name: String, usage: String,
      build: Seq[Expression] => Expression)

  val functions: Seq[Fn] = Seq(
    Fn("cosine_sim", "cosine_sim(a, b) - cosine similarity of two float arrays",
      exprs => CosineSimilarity(exprs(0), exprs(1))),
    Fn("dot_product", "dot_product(a, b) - dot product of two float arrays",
      exprs => DotProduct(exprs(0), exprs(1))),
    Fn("dot_product_d", "dot_product_d(a, b) - dot product of two double arrays",
      exprs => DotProductDouble(exprs(0), exprs(1))),
    Fn("jaro_winkler", "jaro_winkler(a, b) - Jaro-Winkler similarity of two strings",
      exprs => JaroWinkler(exprs(0), exprs(1))),
    Fn("word_shingles",
      "word_shingles(tokens) - word 3-grams of a string array, space-joined",
      exprs => WordShingles(exprs(0))),
    Fn("md5_band_hashes",
      "md5_band_hashes(sh) - the 8 32-bit words of md5(sh) and md5(sh || '#')",
      exprs => Md5BandHashes(exprs(0))),
    Fn("sorted_intersect_size",
      "sorted_intersect_size(a, b) - values shared by two sorted, distinct bigint arrays",
      exprs => SortedIntersectSize(exprs(0), exprs(1))),
    Fn("bitmap_distinct",
      "bitmap_distinct(key, maxKey) - exact distinct count of int keys in [0, maxKey]",
      exprs => {
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
    Fn("cms_estimate",
      "cms_estimate(key, probe, depth, width) - count-min sketch estimate of probe's count",
      exprs => {
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
    Fn("heavy_hitters",
      "heavy_hitters(key, k) - sorted candidate keys of a k-counter Misra-Gries sketch",
      exprs => {
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

  /** The registry entry of `f`, as `DESCRIBE FUNCTION` shows it. */
  def info(f: Fn): ExpressionInfo =
    new ExpressionInfo(GraftFunctions.getClass.getName, null, f.name, f.usage,
      "", "", "", "", "", "", "built-in")

  /** Registers every function the session lacks. Idempotent: a name the
    * registry already has (injected by [[GraftExtensions]], or
    * registered by an earlier call) is left as it is, so repeated calls
    * replace nothing. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { f =>
      val id = FunctionIdentifier(f.name)
      if (!registry.functionExists(id)) registry.registerFunction(id, info(f), f.build)
    }
  }

  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)
  def dotProduct(a: Column, b: Column): Column = call_function("dot_product", a, b)
  def wordShingles(tokens: Column): Column = call_function("word_shingles", tokens)
  def md5BandHashes(sh: Column): Column = call_function("md5_band_hashes", sh)
  def sortedIntersectSize(a: Column, b: Column): Column =
    call_function("sorted_intersect_size", a, b)
}
