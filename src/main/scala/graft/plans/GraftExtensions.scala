package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: makes graft's native expressions
  * available to ANY session via
  * `spark.sql.extensions=graft.plans.GraftExtensions` (spark-submit /
  * cluster config), in addition to the runtime registration
  * GraftSession performs. This is the library-idiomatic packaging — a
  * user of the reference switching to this engine adds one config line
  * and `cosine_sim`/`dot_product` work in SQL text everywhere. It
  * injects `cosine_sim`, `dot_product`, `jaro_winkler`, and the staging
  * index's per-row kernels `word_shingles`, `md5_band_hashes` and
  * `sorted_intersect_size`.
  *
  * It also plans [[TopKPerGroupPlan]] through [[TopKStrategy]]. Only
  * callers of the [[TopKPerGroup]] API (`win_topk_heap`) build that
  * node: the standard `row_number() <= k` window idiom is left to
  * Spark's own `WindowGroupLimit`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[CosineSimilarity].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => TopKStrategy)
    e.injectFunction((
      FunctionIdentifier("cosine_sim"),
      info("cosine_sim",
        "cosine_sim(a, b) - cosine similarity of two float arrays"),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("dot_product"),
      info("dot_product",
        "dot_product(a, b) - dot product of two float arrays"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("jaro_winkler"),
      info("jaro_winkler",
        "jaro_winkler(a, b) - Jaro-Winkler similarity of two strings"),
      (exprs: Seq[Expression]) => JaroWinkler(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("word_shingles"),
      info("word_shingles",
        "word_shingles(tokens) - word 3-grams of a string array, space-joined"),
      (exprs: Seq[Expression]) => WordShingles(exprs(0))))
    e.injectFunction((
      FunctionIdentifier("md5_band_hashes"),
      info("md5_band_hashes",
        "md5_band_hashes(sh) - the 8 32-bit words of md5(sh) and md5(sh || '#')"),
      (exprs: Seq[Expression]) => Md5BandHashes(exprs(0))))
    e.injectFunction((
      FunctionIdentifier("sorted_intersect_size"),
      info("sorted_intersect_size",
        "sorted_intersect_size(a, b) - values shared by two sorted, distinct bigint arrays"),
      (exprs: Seq[Expression]) => SortedIntersectSize(exprs(0), exprs(1))))
  }
}
