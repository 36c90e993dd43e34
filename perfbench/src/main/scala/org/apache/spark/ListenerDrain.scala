package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so a
  * traced query's metrics are complete before the next query starts. The
  * bus's drain method is package-private to Spark, hence this package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
