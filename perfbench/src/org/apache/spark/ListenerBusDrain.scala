package org.apache.spark

/** The listener bus is package-private; a traced run waits on it so every
  * job and stage event has been delivered before totals are read.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
