package graft.tools

import org.apache.spark.sql.functions._

/** Deterministic shape probe for the dedup_clusters loop: counts Spark
  * jobs, stages, tasks and shuffled bytes across the whole query (wall
  * clock on this host is ±15% between sittings; these counts are not).
  *
  *   sbt 'runMain graft.tools.ClusterProbe [sfDir]'
  */
object ClusterProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.LocalSession.builder().getOrCreate()
    spark.range(1000000L).selectExpr("sum(id)").collect()

    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val shuffleWrite = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted)
          : Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
        shuffleWrite.addAndGet(
          s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten): Unit
      }
    }

    // warm once (codegen/JIT), then measure the shape
    def run(): Unit =
      graft.SparkEntry.queries("dedup_clusters")(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    run()
    graft.ops.QueryPack.releaseRetainedBlocks(spark, blocking = true)
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    run()
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(300)
    spark.sparkContext.removeSparkListener(listener)
    println(f"[cluster-probe] wall=$wall%.2f s jobs=${jobs.get} " +
      f"stages=${stages.get} tasks=${tasks.get} " +
      f"shuffleMB=${shuffleWrite.get / 1e6}%.1f")
    spark.stop()
  }
}
