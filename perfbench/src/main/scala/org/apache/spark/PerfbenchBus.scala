package org.apache.spark

/** Drains Spark's listener bus. The bus is package-private, so the
  * benchmark reaches it from inside Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
