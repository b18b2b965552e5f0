package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has
  * been delivered. The listener bus is private to Spark; a tracer that
  * reads its listener right after an action would otherwise race it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
