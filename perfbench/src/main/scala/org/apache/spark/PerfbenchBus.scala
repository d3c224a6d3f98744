package org.apache.spark

/** Lets the benchmark wait until Spark's listener bus has delivered every
  * posted event, so counts read right after an action are complete. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
