package org.apache.spark.sql.graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Execution-budget probe shared by the specs that pin an operator's
  * action to a number of SQL executions. */
object Executions {
  /** SQL executions launched while `body` runs — construction included, so
    * an eager driver collect or checkpoint at plan-build time counts. */
  def count(spark: SparkSession)(body: => Unit): Int = {
    val n = new AtomicInteger
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = n.incrementAndGet()
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = n.incrementAndGet()
    }
    ListenerBus.drain(spark)
    spark.listenerManager.register(listener)
    try {
      body
      ListenerBus.drain(spark)
      n.get
    } finally spark.listenerManager.unregister(listener)
  }
}
