package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so a
  * trace boundary sees all jobs, tasks and query executions before it. The
  * bus is package-private to Spark, hence this bridge's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
