package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.cdc.Materialize
import graft.ops.CdcQueries

class StatefulLatestSpec extends SparkSpec {

  test("stateful stream converges to the batch latest-wins state") {
    import spark.implicits._
    val base = Files.createTempDirectory("statef").toString
    val feed = CdcQueries.flatFeed(spark, sf)
      .select("key", "event_id", "ts_us", "value", "props", "op")
    feed.write.mode("append").parquet(s"$base/in")

    StatefulLatest.replayToMemory(spark, s"$base/in", "stateful_latest",
      s"$base/cp")
    // memory sink in update mode appends every emission; the final image
    // per key is the row with max (ts_us, event_id)
    val emitted = spark.table("stateful_latest")
    val finalImages = Materialize.latest(emitted, Seq("key"),
      Seq(col("ts_us"), col("event_id")))
    val live = finalImages.filter(!col("deleted"))
      .select("key", "event_id", "value")

    val expected = Materialize.currentState(feed, Seq("key"),
      Seq(col("ts_us"), col("event_id")))
      .select("key", "event_id", "value")
    assert(live.except(expected).isEmpty && expected.except(live).isEmpty)
    // deleted keys surface as tombstone emissions, not silence
    val tombstoned = finalImages.filter(col("deleted")).select("key")
    val expectedDead = Materialize.latest(feed, Seq("key"),
      Seq(col("ts_us"), col("event_id")))
      .filter(col("op") === "d").select("key")
    assert(tombstoned.except(expectedDead).isEmpty &&
      expectedDead.except(tombstoned).isEmpty)
  }

  test("the same stateful query runs on the RocksDB state store — the " +
       "provider a 100 TB deployment keys on — with identical results") {
    // The default HDFS-backed store holds every key's state on-heap;
    // at production key cardinality the provider of record is RocksDB
    // (incremental checkpoints, state >> heap). The state contract
    // must be provider-independent: run the SAME replay under
    // RocksDBStateStoreProvider and require the identical final image.
    import spark.implicits._
    val base = Files.createTempDirectory("staterocks").toString
    val feed = CdcQueries.flatFeed(spark, sf)
      .select("key", "event_id", "ts_us", "value", "props", "op")
    feed.write.mode("append").parquet(s"$base/in")
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      StatefulLatest.replayToMemory(spark, s"$base/in",
        "stateful_rocksdb", s"$base/cp")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    val live = Materialize.latest(spark.table("stateful_rocksdb"),
        Seq("key"), Seq(col("ts_us"), col("event_id")))
      .filter(!col("deleted")).select("key", "event_id", "value")
    val expected = Materialize.currentState(feed, Seq("key"),
      Seq(col("ts_us"), col("event_id")))
      .select("key", "event_id", "value")
    assert(live.except(expected).isEmpty && expected.except(live).isEmpty,
      "RocksDB-backed state diverged from the batch truth")
  }

  test("out-of-order arrivals never regress state (per-key monotonic)") {
    import spark.implicits._
    val base = Files.createTempDirectory("statemono").toString
    // newest event first in file order: the stale one must not be emitted
    val changes = Seq(
      StatefulLatest.Change("k1", 2L, 2000L, Some(2.0), Some("{}"), "u"),
      StatefulLatest.Change("k1", 1L, 1000L, Some(1.0), Some("{}"), "u"))
    changes.toDF().coalesce(1).write.parquet(s"$base/in")
    StatefulLatest.replayToMemory(spark, s"$base/in", "stateful_mono",
      s"$base/cp")
    val rows = spark.table("stateful_mono").select("event_id")
      .collect().map(_.getLong(0)).toSeq
    assert(rows === Seq(2L), s"emitted $rows")
  }

  test("the replay leaves the caller's checkpoint file manager setting " +
       "unchanged, during the replay and after it") {
    import spark.implicits._
    val base = Files.createTempDirectory("stateconf").toString
    CdcQueries.flatFeed(spark, sf)
      .select("key", "event_id", "ts_us", "value", "props", "op")
      .write.parquet(s"$base/in")
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    val before = spark.conf.getOption(key)
    // a poller reads the caller's conf for as long as the replay runs
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    @volatile var running = true
    val poller = new Thread(() => while (running) {
      seen.add(spark.conf.getOption(key).toString)
      Thread.sleep(2)
    })
    poller.start()
    try StatefulLatest.replayToMemory(spark, s"$base/in", "stateful_conf",
      s"$base/cp")
    finally { running = false; poller.join() }
    assert(seen.size() === 1 && seen.contains(before.toString),
      s"caller conf changed during the replay: $seen")
    assert(spark.conf.getOption(key) === before)
    // the emissions are still visible in the caller's session
    assert(spark.table("stateful_conf").count() > 0)
  }
}
