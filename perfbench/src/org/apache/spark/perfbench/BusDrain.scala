package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every event posted to the listener bus so far has been
  * delivered. The bus is asynchronous, so a listener read right after
  * an action returns can miss that action's last job-end and task-end
  * events; `waitUntilEmpty` is Spark-internal, hence this package.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
