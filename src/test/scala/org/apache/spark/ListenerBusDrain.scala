package org.apache.spark

/** Test access to the package-private listener bus: block until every
  * posted event has reached its listeners, the status store included, so
  * `statusTracker` reads see all jobs that have already run. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
