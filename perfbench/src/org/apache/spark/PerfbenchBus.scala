package org.apache.spark

/** The listener bus drain is package-private to Spark; this shim lives in
  * Spark's package so the benchmark can wait for its counters to settle.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
