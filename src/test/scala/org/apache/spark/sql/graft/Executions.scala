package org.apache.spark.sql.graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Execution-budget probe shared by the specs that pin an operator's
  * action to a number of SQL executions and Spark jobs. */
object Executions {
  /** SQL executions and Spark jobs launched while a body ran. */
  final case class Counts(executions: Int, jobs: Int)

  /** SQL executions launched while `body` runs — construction included, so
    * an eager driver collect or checkpoint at plan-build time counts. */
  def count(spark: SparkSession)(body: => Unit): Int = counts(spark)(body).executions

  /** SQL executions and Spark jobs (broadcast and AQE stage jobs included)
    * launched while `body` runs. */
  def counts(spark: SparkSession)(body: => Unit): Counts = {
    val n = new AtomicInteger
    val jobs = new AtomicInteger
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = n.incrementAndGet()
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = n.incrementAndGet()
    }
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    ListenerBus.drain(spark)
    spark.listenerManager.register(listener)
    spark.sparkContext.addSparkListener(jobListener)
    try {
      body
      ListenerBus.drain(spark)
      Counts(n.get, jobs.get)
    } finally {
      spark.listenerManager.unregister(listener)
      spark.sparkContext.removeSparkListener(jobListener)
    }
  }
}
