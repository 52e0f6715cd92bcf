package graft

import org.apache.spark.sql.functions.{col, max, min}

/** Sustained-ingest throughput for the CDC merge path (r9 verdict
  * item 4): replay the sf feed as N time-ordered micro-batches through
  * [[graft.streaming.CdcPipeline.mergeBatch]] and report events/s plus
  * a PER-PHASE attribution of each commit's cost (the pipeline's
  * `Trace.phase`s, read from an [[obs.Trace]]) — where the fixed
  * per-commit overhead actually goes: head resolve, batch materialization, the touched-bucket
  * collect, the read-merge-write job, the schema write, and the commit (`manifest`: bucket map,
  * header and the fenced flip, whose GC decision it includes — the deletes run on the version
  * vacuum, so `gc_sec` is gone).
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 runMain graft.CdcMergeBench
  *
  * Optional env: SPARK_GRAFT_MERGE_BATCHES (comma list, default
  * "2,10,25"). Prints one JSON line; numbers land in BASELINE.md's
  * round-10 table.
  */
object CdcMergeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val batchCounts = sys.env.getOrElse("SPARK_GRAFT_MERGE_BATCHES",
      "2,10,25").split(",").map(_.trim.toInt).toSeq
    val spark = LocalSession.builder().getOrCreate()
    // untimed warmup (codegen/scheduler spin-up, cf. Bench)
    spark.range(1000000L).selectExpr("sum(id)").collect()

    val feed = ops.CdcQueries.flatFeed(spark, sfDir).localCheckpoint()
    val n = feed.count()
    val bounds = feed.agg(min("ts_us"), max("ts_us")).collect()(0)
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val cfg = streaming.CdcPipeline.Config(
      keyCols = Seq("key"), orderCols = Seq("ts_us", "event_id"),
      opCol = "op")

    def replay(nb: Int): (Double, Map[String, Double]) = {
      val statePath = s"/tmp/graft_mergebench_state_$nb"
      val fs = new org.apache.hadoop.fs.Path(statePath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(statePath), true)
      val t = obs.Trace.of(spark) {
        (0 until nb).foreach { i =>
          val from = lo + (hi - lo + 1) * i / nb
          val until = lo + (hi - lo + 1) * (i + 1) / nb
          streaming.CdcPipeline.mergeBatch(
            feed.filter(col("ts_us") >= from && col("ts_us") < until),
            statePath, cfg, i)
        }
      }
      (t.seconds, t.phaseSeconds)
    }

    // wall and phases come from the SAME replay (the warm one) so the
    // attribution always sums ≤ its wall (ADVICE r10: reporting
    // min(cold, warm) beside warm-only phases let phase sums exceed
    // the wall when the cold run happened to be faster, pushing
    // driver_unaccounted_sec negative). The cold wall is kept as its
    // own field for the compile+JIT delta.
    val results = batchCounts.map { nb =>
      val (w1, _) = replay(nb)         // cold: pays plan compile + JIT
      val (w2, ph) = replay(nb)        // warm: the reported number
      (nb, w2, w1, ph)
    }

    val sb = new StringBuilder
    sb ++= s"""{"metric":"cdc_merge_sustained","sf_dir":"$sfDir","events":$n"""
    results.foreach { case (nb, wall, cold, ph) =>
      val eps = n / wall
      sb ++= f""","b$nb":{"wall_sec":$wall%.3f,"wall_cold_sec":$cold%.3f"""
      sb ++= f""","events_per_sec":$eps%.0f"""
      val accounted = ph.values.sum
      ph.toSeq.sortBy(-_._2).foreach { case (p, s) =>
        sb ++= f""","$p%s_sec":$s%.3f"""
      }
      sb ++= f""","driver_unaccounted_sec":${wall - accounted}%.3f}"""
    }
    sb ++= "}"
    println(sb.toString)
    spark.stop()
  }
}
