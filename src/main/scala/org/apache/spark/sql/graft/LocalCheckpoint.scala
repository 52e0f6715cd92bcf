package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The blocks of a `localCheckpoint`, which only Spark's own packages
  * may drop without a warning.
  */
object LocalCheckpoint {

  /** Drops the blocks of `df`, a DataFrame `localCheckpoint` returned,
    * now rather than when the ContextCleaner collects its RDD: what
    * `RDD.unpersist` does, without the warning it logs for a locally
    * checkpointed RDD (whose lineage is gone, so it cannot be
    * recomputed). The caller must not read `df` again.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
      .foreach(rdd => rdd.sparkContext.unpersistRDD(rdd.id, blocking = false))
}
