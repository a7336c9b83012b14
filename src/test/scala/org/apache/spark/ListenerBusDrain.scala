package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * spec's job listener or query-execution listener has seen everything
  * an action ran. `LiveListenerBus.waitUntilEmpty` is `private[spark]`,
  * hence the package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
