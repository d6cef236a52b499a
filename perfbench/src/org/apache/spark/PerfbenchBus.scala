package org.apache.spark

/** Lets the traced run wait until the listener bus has delivered every
  * event posted so far, so per-statement counters are complete when read.
  * The bus is private to Spark, hence this one-line bridge in its package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
