package org.apache.spark.sql.graftshims

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** The one place graft touches Spark's `private[sql]` surface: wrapping
  * a custom [[LogicalPlan]] back into a user-facing DataFrame, and
  * draining the `private[spark]` listener bus. This is
  * the established packaging for plan-level extension libraries (the
  * same move Delta Lake et al. make); everything else in graft sticks
  * to the public API.
  */
object DatasetShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Column → Catalyst Expression (Spark 4 made Column node-based; the
    * converter lives behind private[sql]). */
  def expr(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The persisted RDDs backing a localCheckpoint-ed DataFrame (the
    * `LogicalRDD` leaves of its analyzed plan). `Dataset.unpersist`
    * only consults the cache manager, which does not track checkpoint
    * blocks — actually freeing them requires `unpersist` on the exact
    * RDD that was marked persistent. */
  def checkpointedRdds(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  /** Block until every listener event posted so far has been delivered,
    * so a `SparkListener` that counts jobs reads a settled count. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
