package org.apache.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** Test hook into Spark's private listener bus: block until every event
  * posted so far has been delivered, so a `QueryExecutionListener` has seen
  * every execution that finished before the call. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** `body`'s result and the final plan of every execution it ran. */
  def executedPlans[T](spark: SparkSession)(body: => T): (T, Seq[SparkPlan]) = {
    val plans = ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized(plans += qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val r = body
      drain(spark.sparkContext)
      (r, plans.synchronized(plans.toList))
    } finally spark.listenerManager.unregister(listener)
  }
}
