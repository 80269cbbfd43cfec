package org.apache.spark

/** The listener bus is internal to Spark; the benchmark waits on it so that
  * every event of a finished round has reached its recorder before the
  * round's numbers are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
