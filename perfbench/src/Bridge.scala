package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** The listener bus is package-private; the traced run needs to wait until
  * it has delivered every event before it reads the listeners' totals.
  */
object ListenerBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
