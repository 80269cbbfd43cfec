package org.apache.spark

/** The listener bus is internal to Spark; a spec that counts events waits
  * on it so every event of the code under test has reached its listener. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
