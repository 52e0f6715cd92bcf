package graft

import java.util.Properties
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import graft.sources.SegmentedIndex

/** The Spark jobs a piece of code starts, for specs that pin job
  * counts, call sites and local properties.
  */
object SparkJobs {

  private val Marker = "graft.spec.jobsBarrier"

  /** (local properties, first stage name) of every job `body` starts,
    * in start order. Listener events arrive in order, so once a marker
    * job run after `body` is seen, every job of `body` has been. The
    * async version vacuum is drained first, so its work is not counted.
    */
  def of(spark: SparkSession)(body: => Unit): Seq[(Properties, String)] = {
    SegmentedIndex.awaitGc()
    val seen = new LinkedBlockingQueue[(Properties, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.put((e.properties,
          e.stageInfos.headOption.map(_.name).getOrElse("")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty(Marker, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(Marker, null)
      Iterator.continually(seen.poll(60, TimeUnit.SECONDS))
        .takeWhile { j =>
          assert(j != null, "listener barrier timed out")
          j._1.getProperty(Marker) == null
        }.toSeq
    } finally sc.removeSparkListener(listener)
  }

  /** The jobs' first stage names, one a line. */
  def sites(jobs: Seq[(Properties, String)]): String =
    jobs.map(_._2).mkString("\n")
}
