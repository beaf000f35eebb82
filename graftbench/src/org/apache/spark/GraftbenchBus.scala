package org.apache.spark

/** The listener bus delivers events asynchronously; the traced pass waits
  * for it to empty after each operation so every job, task and query event
  * is attributed before the next operation starts. */
object GraftbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
