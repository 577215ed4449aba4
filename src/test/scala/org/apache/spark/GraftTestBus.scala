package org.apache.spark

/** Lives in Spark's package only to reach the listener bus, so specs
  * can read listener counts after every event landed.
  */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
