package org.apache.spark

/** Waits until every listener queue of a context has delivered its
  * events, so counters read after a call include all of that call's
  * jobs, stages, tasks and query executions. Lives in Spark's package
  * because the listener bus is `private[spark]`. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
