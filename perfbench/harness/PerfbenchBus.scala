package org.apache.spark

/** The listener bus is package-private; the harness waits for it to drain
  * before it reads the per-operation counters, so no late task-end event is
  * lost.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
