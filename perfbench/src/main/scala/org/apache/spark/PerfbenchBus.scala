package org.apache.spark

/** The listener bus drain is package-private; the benchmark reaches it
  * through this same-package bridge, as the library does for Catalyst. */
object PerfbenchBus {
  /** Blocks until every event posted so far has reached every listener. */
  def waitUntilEmpty(sc: SparkContext, timeoutMillis: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
