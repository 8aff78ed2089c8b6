package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * listener totals are complete before they are read. The bus is private
  * to Spark, hence this file's package. */
object CdcbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
