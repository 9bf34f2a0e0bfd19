package org.apache.spark

/** The listener bus is package-private; the benchmark's traced runs drain it
  * after each operation so that every job, stage, task and query-execution
  * event of that operation has been delivered before it is attributed. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
