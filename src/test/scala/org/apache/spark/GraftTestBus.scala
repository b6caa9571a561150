package org.apache.spark

/** The listener bus is private to Spark: a spec that counts listener
  * events drains it first, so no queued event is missed or misplaced. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
