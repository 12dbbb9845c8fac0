package org.apache.spark

/** Waits until the scheduler's listener bus has delivered every queued
  * event, so per-op counters read after it are complete. The bus is
  * package-private to Spark, hence this file's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
