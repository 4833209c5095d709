package org.apache.spark

/** Waits until every listener event posted so far has been delivered. The
  * bus is Spark-internal, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
