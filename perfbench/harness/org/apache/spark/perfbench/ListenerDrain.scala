package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every queued event, so that a
  * traced span has seen all of its jobs, tasks and query executions before it
  * closes. The bus and its wait are `private[spark]`; this object lives in the
  * package only for that access.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
