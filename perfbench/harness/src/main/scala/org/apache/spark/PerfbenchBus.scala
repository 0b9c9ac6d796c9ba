package org.apache.spark

/** The listener bus is `private[spark]`; the traced run drains it before it
  * reads its listeners, so that every event of a finished operation has
  * been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
