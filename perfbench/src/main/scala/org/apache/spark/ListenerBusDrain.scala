package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * The listener bus is private to Spark, hence this package. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
