package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Spark's listener bus, which only Spark's own packages may reach:
  * the barrier `graft.obs.Trace` closes a traced region with.
  */
object ListenerBus {

  /** Returns once every event posted before the call has reached every
    * listener, on every queue: job, stage and task events, and the SQL
    * executions `ExecutionListenerBus` delivers from the shared queue.
    * Throws a `TimeoutException` if the bus is still busy after a
    * minute.
    */
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(60000L)

  /** Listeners on the bus plus the session's query execution
    * listeners.
    */
  def installed(spark: SparkSession): Int =
    spark.sparkContext.listenerBus.listeners.size +
      spark.listenerManager.listListeners().length
}
