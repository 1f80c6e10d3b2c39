package org.apache.spark

/** The listener bus is Spark-private; traced runs wait on it so every
  * job and task event is counted before spans are totalled. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
