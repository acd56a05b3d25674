package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test-only bridge into the `private[spark]` listener bus: waits until
  * every posted event has reached every listener, so a spec can count the
  * jobs a task ran without racing the asynchronous bus.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
