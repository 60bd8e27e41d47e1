package org.apache.spark

/** Waits until every queued listener event has been delivered. The
  * benchmark's tracer calls it at each span boundary, so the events a span
  * posted are rolled up into that span before the next one opens. The
  * listener bus is package-private to Spark, hence this package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
