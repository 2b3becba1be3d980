package org.apache.spark

/** The listener bus delivers events on its own thread; a traced op reads
  * its job, stage and task counts only after every event it caused has
  * been delivered. The drain is private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
