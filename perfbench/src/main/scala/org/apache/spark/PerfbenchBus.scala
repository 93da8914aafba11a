package org.apache.spark

/** The listener bus is package-private; the benchmark needs to wait for
  * it to drain before it reads what its listeners recorded. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
