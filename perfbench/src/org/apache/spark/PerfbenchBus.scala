package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's listener has seen all jobs of the operation just finished.
  * The bus is Spark-internal; this object lives in Spark's package only to
  * reach it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
