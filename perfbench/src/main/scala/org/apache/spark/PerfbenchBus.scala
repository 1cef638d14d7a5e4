package org.apache.spark

/** The one Spark-internal call the benchmark makes: listener events
  * arrive asynchronously, so the traced run waits for the bus to drain
  * after each op before it attributes jobs, stages and query phases to
  * that op. Outside every timed region. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
