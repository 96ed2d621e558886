package org.apache.spark

/** The listener bus is private to Spark; the harness needs to drain it so
  * every job, stage and task event of a run is counted before it reports. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
