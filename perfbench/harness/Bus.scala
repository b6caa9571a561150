package org.apache.spark

/** The listener bus is private to Spark; the traced run drains it before it
  * removes its listeners, so no queued event is lost. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
