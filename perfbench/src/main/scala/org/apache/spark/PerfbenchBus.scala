package org.apache.spark

/** Lives in Spark's package only to reach the listener bus, so the
  * benchmark can read its listener counts after every event landed.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
