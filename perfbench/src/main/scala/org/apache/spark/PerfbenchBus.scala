package org.apache.spark

/** Drains Spark's listener bus so listener counters are complete before
  * they are read (the bus is package-private to Spark).
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
