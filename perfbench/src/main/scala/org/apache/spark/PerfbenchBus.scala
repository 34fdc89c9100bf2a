package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * trace reads complete task metrics. The bus is private to Spark, hence
  * this file's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
