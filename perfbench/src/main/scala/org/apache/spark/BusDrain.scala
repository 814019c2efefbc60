package org.apache.spark

/** The listener bus is `private[spark]`; this accessor lets the
  * benchmark wait until every posted event has been delivered, instead
  * of sleeping a fixed time before reading listener state. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
