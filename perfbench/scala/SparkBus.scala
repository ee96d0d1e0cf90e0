package org.apache.spark

/** The listener bus is private to Spark; the benchmark only needs to wait
  * for it to deliver every queued event before it reads its listeners. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
