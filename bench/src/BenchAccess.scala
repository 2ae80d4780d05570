package org.apache.spark

/** The one Spark-internal call the tracer needs: block until the listener
  * bus has delivered every queued event.
  */
object BenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
