package graft.tools

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sim.Similarity
import graft.sources.Tables
import graft.text.Dedup

/** Phase decomposition for the standing-index lifecycle queries — the
  * top of the r14 bench board (dedup_stream_maintain 9.5 s,
  * dedup_stream_ingest 6.0 s, dedup_index_compact 5.8 s,
  * sim_stream_ivf_maintain 5.2 s at sf0.1 on the r14 baseline host).
  * Each composite runs build + N appends (+ folds) + probe under the
  * real streaming scheduler; this probe times every phase ALONE
  * (min-of-2 after one warm discard) so the optimization targets the
  * phase that actually owns the wall-clock, per guide §1.
  *
  *   runMain graft.tools.LifecycleProbe [sfDir]
  */
object LifecycleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.LocalSession.builder().getOrCreate()
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val fs = new Path("/tmp").getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val root = "/tmp/graft_lifecycle_probe"

    // min-of-2 with a fresh dir per attempt (build/append mutate state)
    def timed(name: String)(prep: String => Unit)(run: String => Unit)
        : Unit = {
      val times = (1 to 2).map { i =>
        val dir = s"$root/$name/$i"
        fs.delete(new Path(dir), true)
        prep(dir)
        val t0 = System.nanoTime()
        run(dir)
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[lifecycle] $name%-28s ${times.min}%6.2f s " +
        f"(runs: ${times.map(t => f"$t%.2f").mkString(", ")})")
    }

    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .localCheckpoint()
    val existing = docs.filter(col("doc_id") % 3 =!= 0)
    val delta = docs.filter(col("doc_id") % 3 === 0)
    val quarter = docs.filter(col("doc_id") % 12 === 0)
    val incoming = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .localCheckpoint()
    println(s"[lifecycle] docs=${docs.count()} sf=$sfDir cpus=${spark.sparkContext.defaultParallelism}")

    timed("shingle_build")(_ => ())(dir =>
      Dedup.buildShingleIndex(existing, dir))
    timed("shingle_append_1of12")(dir =>
      Dedup.buildShingleIndex(existing, dir))(dir =>
      Dedup.appendShingleIndex(dir, quarter))
    timed("shingle_compact_3chain")(dir => {
      Dedup.buildShingleIndex(existing, dir)
      Dedup.appendShingleIndex(dir, docs.filter(col("doc_id") % 6 === 0))
      Dedup.appendShingleIndex(dir, docs.filter(col("doc_id") % 6 === 3))
    })(dir => Dedup.compactShingleIndex(spark, dir))
    timed("shingle_probe_1seg")(dir =>
      Dedup.buildShingleIndex(docs, dir))(dir =>
      Dedup.probeShingleIndex(dir, incoming, 3, 0.8)
        .write.format("noop").mode("overwrite").save())
    timed("shingle_probe_3seg")(dir => {
      Dedup.buildShingleIndex(existing, dir)
      Dedup.appendShingleIndex(dir, docs.filter(col("doc_id") % 6 === 0))
      Dedup.appendShingleIndex(dir, docs.filter(col("doc_id") % 6 === 3))
    })(dir =>
      Dedup.probeShingleIndex(dir, incoming, 3, 0.8)
        .write.format("noop").mode("overwrite").save())

    // bare streaming machinery: same source/trigger shape as the
    // inventory queries, sink does nothing — the scheduler+planning
    // floor the maintain/ingest queries pay on top of their appends
    timed("stream_noop_4x1")(dir =>
      delta.repartition(4).write.mode("overwrite")
        .parquet(s"$dir/in"))(dir => {
      val s2 = graft.ops.QueryPack.streamSession(spark, 8, s"$dir/cp")
      val q = s2.readStream.schema(delta.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
        .writeStream.option("checkpointLocation", s"$dir/cp")
        .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) =>
          { b.write.format("noop").mode("overwrite").save(); () })
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    })

    // job-level attribution of ONE append: per-job wall plus the
    // driver-side gaps between jobs (catalog ops, commit FS round
    // trips, planning) — the phase the stage view can't see
    {
      val dir = s"$root/append_jobs"
      fs.delete(new Path(dir), true)
      Dedup.buildShingleIndex(existing, dir)
      val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
      val sites = new java.util.concurrent.ConcurrentHashMap[Int, String]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          starts.put(j.jobId, j.time)
          sites.put(j.jobId,
            j.stageInfos.map(_.name.takeWhile(_ != '\n'))
              .mkString(" | ").take(120)): Unit
        }
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val s = Option(starts.get(j.jobId)).getOrElse(j.time)
          jobs.put(j.jobId, (s, j.time))
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.currentTimeMillis()
      Dedup.appendShingleIndex(dir, quarter)
      val t1 = System.currentTimeMillis()
      spark.sparkContext.removeSparkListener(listener)
      Thread.sleep(200)
      import scala.jdk.CollectionConverters._
      val rows = jobs.asScala.toSeq.sortBy(_._1)
      println(f"[append-jobs] total ${(t1 - t0) / 1e3}%.2f s, " +
        s"${rows.size} jobs")
      var cursor = t0
      rows.foreach { case (id, (s, e)) =>
        println(f"[append-jobs]   gap ${(s - cursor) / 1e3}%5.2f s | " +
          f"job $id%3d ${(e - s) / 1e3}%5.2f s  " +
          Option(sites.get(id)).getOrElse("?"))
        cursor = math.max(cursor, e)
      }
      println(f"[append-jobs]   tail gap ${(t1 - cursor) / 1e3}%5.2f s")
    }

    // ---- IVF family ----
    val vecs = graft.ops.SimilarityQueries.doubleVecs(spark, sfDir)
      .localCheckpoint()
    val vExisting = vecs.filter(pmod(col("vec_id"), lit(3)) =!= 0)
    val vQuarter = vecs.filter(pmod(col("vec_id"), lit(12)) === 0)
    val vProbes = vecs.filter(col("vec_id") < 8)
    println(s"[lifecycle] vecs=${vecs.count()}")

    timed("ivf_build")(_ => ())(dir =>
      Similarity.buildIvfIndex(vExisting, dir))
    timed("ivf_append_1of12")(dir =>
      Similarity.buildIvfIndex(vExisting, dir))(dir =>
      Similarity.appendIvfIndex(dir, vQuarter))
    timed("ivf_compact_3chain")(dir => {
      Similarity.buildIvfIndex(vExisting, dir)
      Similarity.appendIvfIndex(dir,
        vecs.filter(pmod(col("vec_id"), lit(6)) === 0))
      Similarity.appendIvfIndex(dir,
        vecs.filter(pmod(col("vec_id"), lit(6)) === 3))
    })(dir => Similarity.compactIvfIndex(spark, dir))
    timed("ivf_probe_1seg")(dir =>
      Similarity.buildIvfIndex(vecs, dir))(dir =>
      Similarity.ivfProbeIndexed(dir, vProbes, 5)
        .write.format("noop").mode("overwrite").save())
  }
}
