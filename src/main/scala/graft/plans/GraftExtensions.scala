package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** SparkSessionExtensions entry point: makes graft's native expressions
  * available to ANY session via
  * `spark.sql.extensions=graft.plans.GraftExtensions` (spark-submit /
  * cluster config), in addition to the runtime registration
  * GraftSession performs. This is the library-idiomatic packaging — a
  * user of the reference switching to this engine adds one config line
  * and `cosine_sim`/`dot_product` work in SQL text everywhere. It
  * injects every function of [[GraftFunctions.functions]].
  *
  * It also plans [[TopKPerGroupPlan]] through [[TopKStrategy]]. Only
  * callers of the [[TopKPerGroup]] API (`win_topk_heap`) build that
  * node: the standard `row_number() <= k` window idiom is left to
  * Spark's own `WindowGroupLimit`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => TopKStrategy)
    GraftFunctions.functions.foreach { f =>
      e.injectFunction((FunctionIdentifier(f.name), GraftFunctions.info(f), f.build))
    }
  }
}
