package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one Spark-private call the bench needs: wait until every queued
  * listener event has been delivered, so a traced run's job, stage and
  * task records are complete before they are summarized.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
