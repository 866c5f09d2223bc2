package org.apache.spark

/** The one Spark-internal call the benchmark needs: draining the
  * asynchronous listener bus, so the counters read after an operation
  * include every event that operation produced. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
