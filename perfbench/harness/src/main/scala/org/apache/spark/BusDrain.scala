package org.apache.spark

/** Waits until every event posted so far has reached every listener.
  * The listener bus is package-private to Spark, hence this package. */
object BusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
