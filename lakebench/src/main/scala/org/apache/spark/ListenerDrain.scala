package org.apache.spark

/** Waits until every queued listener event has been delivered, so an
  * op's jobs and tasks are all attributed before its record is read.
  * `LiveListenerBus.waitUntilEmpty` is `private[spark]`, hence the
  * package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
