package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Bridge into `private[spark] SparkContext.listenerBus`: listener events
  * arrive asynchronously, so the traced run drains the bus after each
  * query before it closes that query's counts. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
