package org.apache.spark

/** The listener bus is spark-private; the traced run drains it at span
  * boundaries so each span's counter deltas include every event its
  * interval produced.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
