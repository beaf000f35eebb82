package org.apache.spark

/** Listener-bus events arrive asynchronously; a reader of SparkListener or
  * QueryExecutionListener results waits for the bus to empty first, so
  * every event an action produced has been delivered. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
