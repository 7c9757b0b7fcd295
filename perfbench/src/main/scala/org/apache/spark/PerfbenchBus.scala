package org.apache.spark

/** Access to the listener bus, which is private to Spark: the traced
  * run drains it after each operation so every listener event an
  * operation posted is delivered before the next one starts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
