package org.apache.spark

/** Lets the benchmark wait until every listener has seen every event
  * posted so far, so the events of one operation are complete before the
  * next one starts. The listener bus is package-private to Spark.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
