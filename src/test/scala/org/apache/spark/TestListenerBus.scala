package org.apache.spark

/** Test hook into Spark's private listener bus: block until every event
  * posted so far has been delivered, so a `QueryExecutionListener` has seen
  * every execution that finished before the call. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
