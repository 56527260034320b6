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
  * and `cosine_sim`/`dot_product` work in SQL text everywhere.
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
  }
}
