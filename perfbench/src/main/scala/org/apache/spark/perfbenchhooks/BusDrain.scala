package org.apache.spark.perfbenchhooks

import org.apache.spark.SparkContext

/** Waits until every event already posted to the listener bus has been
  * delivered, so a traced run can read its listeners' counters for one
  * operation before the next one starts. The bus is package-private to
  * Spark, hence this package. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
