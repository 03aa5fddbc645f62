package org.apache.spark

/** Waits until every posted listener event has been delivered, so task
  * metrics of a finished call are all counted before they are read.
  * Lives in this package because the listener bus is `private[spark]`. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
