package org.apache.spark

/** Test-only bridge to `SparkContext.listenerBus` (`private[spark]`):
  * blocks until every posted listener event has been delivered, so a
  * spec can count the jobs an action ran without sleeping.
  */
object GraftListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
