package org.apache.spark

/** Waits until every event posted so far has reached every listener.
  * Listener delivery is asynchronous and the bus's drain is package-private,
  * so the traced run calls it from here before it reads what the listeners
  * recorded for an operation. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
