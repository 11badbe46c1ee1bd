package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark waits for
  * it to drain before it reads its listener's totals. `waitUntilEmpty` is
  * package-private to Spark, hence this one-method bridge.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
