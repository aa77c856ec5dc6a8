package org.apache.spark

/** Waits until every event posted so far has reached every listener.
  * The listener bus is private to Spark, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
