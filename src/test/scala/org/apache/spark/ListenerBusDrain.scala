package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so a
  * listener registered next sees no event of an earlier query. The bus is
  * Spark-internal, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
