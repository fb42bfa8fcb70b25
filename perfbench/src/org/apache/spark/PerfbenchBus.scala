package org.apache.spark

/** The one Spark-internal hook the benchmark needs: block until every
  * listener event posted so far has been delivered, so a ledger read right
  * after a traced call sees all of that call's jobs and tasks. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
