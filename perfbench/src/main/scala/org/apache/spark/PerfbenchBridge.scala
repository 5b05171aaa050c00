package org.apache.spark

/** The listener bus drain is Spark-private; the benchmark needs it so its
  * task counters are complete before it reads them. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
