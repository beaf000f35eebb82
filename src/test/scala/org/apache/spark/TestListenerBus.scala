package org.apache.spark

/** Listener-bus events arrive asynchronously; a test that counts jobs
  * with a SparkListener waits for the bus to empty before reading its
  * counts, so every job an action launched has been delivered. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
