package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Test-only bridge: block until every listener event posted so far has
  * been delivered, so a spec that counts jobs with a SparkListener reads
  * a settled count. Lives under org.apache.spark purely to reach the
  * private[spark] listener bus; nothing in src/main uses this.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
