package org.apache.spark

/** Lets the benchmark's tracer wait until every listener event posted so
  * far has been delivered, so a report never misses the last job or
  * progress event (the bus is private to Spark's own packages).
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
