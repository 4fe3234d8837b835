package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * counters read after a call include all of that call's tasks. The bus
  * is package-private to Spark; this is the one access the benchmark needs.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
