package org.apache.spark

/** Test access to a `private[spark]` hook of the listener bus. */
object SparkTestBridge {

  /** Blocks until every posted listener event has been delivered. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
