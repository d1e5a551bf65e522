package org.apache.spark

/** Waits until every listener queue of a context has delivered its
  * events, so a listener read after a call has seen all of that call's
  * jobs. Lives in Spark's package because the listener bus is
  * `private[spark]`. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
