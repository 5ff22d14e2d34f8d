package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so a
  * traced run's counts are complete before they are written. The bus is
  * private to Spark's package, hence this file's location.
  */
object GraftbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
