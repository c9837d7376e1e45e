package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so
  * the benchmark's per-key counts are complete before they are read.
  * Lives in this package because the listener bus is Spark-internal.
  */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
