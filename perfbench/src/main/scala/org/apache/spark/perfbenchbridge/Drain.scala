package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every posted event, so the
  * traced run reads complete counters after each span. The bus is
  * `private[spark]`; this one-line bridge is the only reason this file
  * lives in Spark's package.
  */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
