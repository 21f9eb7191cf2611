package org.apache.spark

/** Test access to the listener bus, which is `private[spark]`: wait
  * until every posted event has reached the listeners. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
