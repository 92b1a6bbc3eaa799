package org.apache.spark

/** Lets the benchmark wait until its SparkListener has seen every event
  * posted so far; the listener bus is asynchronous and `listenerBus`
  * is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
