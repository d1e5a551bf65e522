package org.apache.spark

/** Waits until every listener queue of a context has delivered its
  * events, so a listener read after a call has seen all of that call's
  * jobs. Lives in Spark's package because the listener bus is
  * `private[spark]`. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** `body`'s result and the Spark jobs it started: the bus is drained
    * before the listener goes on and after `body` returns. */
  def countJobs[T](sc: SparkContext)(body: => T): (T, Int) = {
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new scheduler.SparkListener {
      override def onJobStart(e: scheduler.SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      drain(sc)
      (out, started.get)
    } finally sc.removeSparkListener(listener)
  }
}
