package org.apache.spark

/** The listener bus is package-private; specs that count engine events
  * drain it so every event of the work under test has been delivered. */
object SpecListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
