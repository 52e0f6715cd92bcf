package graft.tools

import org.apache.spark.sql.functions._

/** CDC merge-throughput scale probe (VERDICT r6 item 9): replay the
  * sf dir's event feed through the upsert store in the two regimes
  * Bench's extras measure at sf0.1 — many small micro-batches
  * (commit-bound) and few large ones (data-bound) — so the
  * events-per-second curve across sf0.1 / sf1 / sf10 pins the
  * asymptote the 100 TB merge story rests on: fixed per-commit
  * overhead amortizes away and throughput approaches the data-bound
  * rate. Also times the as-of read and commit-to-commit diff against
  * the built store (near-flat reads are the time-travel scale claim).
  *
  * Usage: runMain graft.tools.CdcProbe <sfDir> [label]
  */
object CdcProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("localdata/sf10")
    val label = args.lift(1).getOrElse(sfDir)
    val spark = graft.LocalSession.builder().getOrCreate()
    val out = scala.collection.mutable.LinkedHashMap[String, Double]()

    val feed = graft.ops.CdcQueries.flatFeed(spark, sfDir).localCheckpoint()
    val n = feed.count()
    out("n_events") = n.toDouble
    val bounds = feed.agg(min("ts_us"), max("ts_us")).collect()(0)
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val cfg = graft.streaming.CdcPipeline.Config(
      keyCols = Seq("key"), orderCols = Seq("ts_us", "event_id"),
      opCol = "op")
    def replay(nb: Int): Double = {
      val statePath = s"/tmp/graft_cdcprobe_${label.hashCode.abs}_$nb"
      val fs = new org.apache.hadoop.fs.Path(statePath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(statePath), true)
      val t0 = System.nanoTime()
      (0 until nb).foreach { i =>
        val from = lo + (hi - lo + 1) * i / nb
        val until = lo + (hi - lo + 1) * (i + 1) / nb
        graft.streaming.CdcPipeline.mergeBatch(
          feed.filter(col("ts_us") >= from && col("ts_us") < until),
          statePath, cfg, i)
      }
      (System.nanoTime() - t0) / 1e9
    }
    val sSmall = replay(10)
    val sLarge = replay(2)
    out("merge_10batch_events_per_sec") = n / sSmall
    out("merge_2batch_events_per_sec") = n / sLarge
    out("merge_commit_overhead_sec") = (sSmall - sLarge) / (10 - 2)

    // read-side: as-of and diff against the 2-batch store just built
    val statePath = s"/tmp/graft_cdcprobe_${label.hashCode.abs}_2"
    def timeNoop(df: => org.apache.spark.sql.DataFrame): Double = {
      val t = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t) / 1e9
    }
    def ttOnce(): Double = timeNoop(
      graft.streaming.CdcPipeline.stateAsOf(spark, statePath, 0L).get)
    def diffOnce(): Double = timeNoop(
      graft.streaming.CdcPipeline.stateDiff(spark, statePath, 0L, 1L, cfg))
    val t1 = ttOnce()
    out("tt_read_sec") = math.min(t1, ttOnce())
    val d1 = diffOnce()
    out("state_diff_sec") = math.min(d1, diffOnce())

    val fields = out.map { case (k, v) =>
      "\"" + k + "\":" + BigDecimal(v)
        .setScale(3, BigDecimal.RoundingMode.HALF_UP) }
      .mkString(",")
    println(s"""{"probe":"$label","sf":"$sfDir",$fields}""")
    spark.stop()
  }
}
