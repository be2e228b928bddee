package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so a
  * span boundary sees all counters of the work before it. The bus is
  * private to Spark, hence this object lives in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
