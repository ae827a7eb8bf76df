package org.apache.spark

/** The listener bus is `private[spark]`; this one-method bridge lets the
  * benchmark wait until every posted event has reached its listeners, so
  * counts read after it are complete without sleeping. */
object BenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
