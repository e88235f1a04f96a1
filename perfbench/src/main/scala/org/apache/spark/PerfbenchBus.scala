package org.apache.spark

/** The listener bus is package-private; the traced harness drains it after
  * each operation so every event of that operation is attributed to it
  * before the next one starts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
