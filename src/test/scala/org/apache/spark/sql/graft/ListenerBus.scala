package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Test-side access to the listener bus drain, which Spark keeps
  * package-private: execution listeners are called asynchronously, so a
  * spec that counts SQL executions waits for the bus to empty first. */
object ListenerBus {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
