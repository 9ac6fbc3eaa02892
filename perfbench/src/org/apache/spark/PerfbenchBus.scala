package org.apache.spark

/** Lets the benchmark wait for Spark's listener bus to deliver every queued
  * event before it reads its trace (the drain method is package-private).
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
