package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test-only accessor for SparkContext's private[spark] listener bus: a
  * suite that counts jobs with a SparkListener drains the bus before it
  * reads its counts, since events are delivered asynchronously. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
