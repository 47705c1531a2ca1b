package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is private[spark]; draining it before reading a
  * listener's totals makes every finished task's metrics visible. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
