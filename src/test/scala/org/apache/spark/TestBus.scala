package org.apache.spark

/** Waits until Spark's (package-private) listener bus has delivered every
  * queued event, so a test listener has seen all jobs of a finished call.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
