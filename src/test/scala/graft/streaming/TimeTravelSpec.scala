package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.CdcQueries

/** Time travel on the CDC state store: each commit's manifest pins the
  * full bucket→dir map, stateAsOf reproduces any retained commit's
  * state exactly, retention GC'd versions fail fast (never partial
  * state), and the commit timeline lists every merge.
  */
class TimeTravelSpec extends SparkSpec {

  private def feed: DataFrame = CdcQueries.flatFeed(spark, sf)

  /** Three thirds of the feed by ts order. */
  private def thirds: Seq[DataFrame] = {
    val b = feed.agg(min("ts_us"), max("ts_us")).collect()(0)
    val (lo, hi) = (b.getLong(0), b.getLong(1) + 1)
    (0 until 3).map { i =>
      feed.filter(col("ts_us") >= (lo + (hi - lo) * i / 3) &&
        col("ts_us") < (lo + (hi - lo) * (i + 1) / 3))
    }
  }

  private def snap(df: DataFrame): Set[(String, Option[Double])] =
    df.select("key", "value").collect()
      .map(r => (r.getString(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toSet

  test("stateAsOf reproduces every retained commit; timeline is complete") {
    val state = Files.createTempDirectory("cdc_tt").toString + "/s"
    val cfg = CdcPipeline.Config(retainVersions = 10, numBuckets = Some(4))
    val snapshots = thirds.zipWithIndex.map { case (chunk, i) =>
      CdcPipeline.mergeBatch(chunk, state, cfg, i.toLong)
      snap(CdcPipeline.currentState(spark, state).get)
    }
    assert(CdcPipeline.commits(spark, state).map(_._2) == Seq(0L, 1L, 2L))
    (0 until 3).foreach { i =>
      val asOf = snap(CdcPipeline.stateAsOf(spark, state, i.toLong).get)
      assert(asOf == snapshots(i), s"commit $i")
    }
    // the current state IS the last commit's state
    assert(snap(CdcPipeline.currentState(spark, state).get)
      == snapshots(2))
  }

  test("versions beyond retainVersions are GC'd and fail fast") {
    val state = Files.createTempDirectory("cdc_tt2").toString + "/s"
    // numBuckets = 4: every chunk carries every key's bucket, so
    // commit 0's dirs are fully superseded twice and leave the window
    val cfg = CdcPipeline.Config(retainVersions = 2, numBuckets = Some(4))
    thirds.zipWithIndex.foreach { case (chunk, i) =>
      CdcPipeline.mergeBatch(chunk, state, cfg, i.toLong)
    }
    // last two commits readable
    assert(CdcPipeline.stateAsOf(spark, state, 2L).get.count() > 0)
    assert(CdcPipeline.stateAsOf(spark, state, 1L).get.count() > 0)
    // commit 0's superseded buckets are gone — loud failure, not
    // silent partial state (every chunk rewrites every bucket here,
    // so version 0 is fully outside the window)
    val ex = intercept[IllegalArgumentException] {
      CdcPipeline.stateAsOf(spark, state, 0L).get.count()
    }
    assert(ex.getMessage.contains("retention"))
  }

  test("unknown batchId names the available commits") {
    val state = Files.createTempDirectory("cdc_tt3").toString + "/s"
    CdcPipeline.mergeBatch(thirds.head, state,
      CdcPipeline.Config(), 7L)
    val ex = intercept[IllegalArgumentException] {
      CdcPipeline.stateAsOf(spark, state, 99L)
    }
    assert(ex.getMessage.contains("no commit") &&
      ex.getMessage.contains("7"))
  }
}
