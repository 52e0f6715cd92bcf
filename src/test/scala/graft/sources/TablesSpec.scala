package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.obs.Trace

/** Encoding armor for the events loader (VERDICT r5: ONE testdata
  * re-encode broke 56 driver queries and 46 tests through the single
  * `ts` assumption in Tables). Writes the same tiny event set in every
  * encoding the fixture has shipped — raw INT64 nano-longs (the
  * Spark-4 read form of TIMESTAMP(NANOS), and what old GenScale
  * replicas store), naive timestamp[us] (TIMESTAMP_NTZ, the current
  * driver form), and UTC-adjusted timestamp[us] (TIMESTAMP) — and
  * asserts `eventsWindow` yields IDENTICAL µs instants, an identical
  * window cut, and a pushed-down scan filter for each. The next
  * encoding change fails this spec, not fifty-six queries.
  */
class TablesSpec extends SparkSpec {

  // three rows: one before, one inside, one after the probe window
  private val usValues = Seq(
    1704067200123456L, // 2024-01-01T00:00:00.123456Z
    1704844800000001L, // 2024-01-10T00:00:00.000001Z (window lo edge +1)
    1706657176220708L) // 2024-01-30T23:26:16.220708Z
  private val winLo = 1704844800000000L
  private val winHi = 1705708800000000L // 2024-01-20

  /** Write `usValues` (+ the non-ts columns the schema carries) as
    * <dir>/events.parquet with `ts` produced by `mkTs`.
    */
  private def writeEvents(dir: String, mkTs: org.apache.spark.sql.Column)
      : String = {
    import spark.implicits._
    // write TimestampType as annotated int64 µs (timestamp[us]
    // isAdjustedToUTC=true) — the fixture form — not legacy INT96,
    // which could not serve pushed-down ts predicates at all
    spark.conf.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MICROS")
    usValues.zipWithIndex
      .map { case (us, i) => (i.toLong, us, i.toLong % 2, "click", 1.0, "{}") }
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .withColumn("ts", mkTs)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/_stage")
    // the driver layout is ONE FLAT FILE per table (TESTDATA.md), and
    // eventsStream's pathGlobFilter depends on the leaf file NAME —
    // so promote the single part file to <dir>/events.parquet
    val stage = new java.io.File(s"$dir/_stage")
    val part = stage.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    stage.listFiles().foreach(_.delete()); stage.delete()
    dir
  }

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_tables_$name").toString

  private lazy val nanoDir = writeEvents(tmp("nano"), (col("us") * 1000L).as("ts"))
  private lazy val ntzDir = writeEvents(tmp("ntz"),
    timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
  private lazy val tzDir = writeEvents(tmp("tz"),
    timestamp_micros(col("us")).as("ts"))

  private def encodings: Seq[(String, String, DataType)] = Seq(
    ("nano-long", nanoDir, LongType),
    ("timestamp[us] naive", ntzDir, TimestampNTZType),
    ("timestamp[us] utc", tzDir, TimestampType))

  private def instants(df: DataFrame): Seq[Long] =
    df.select(unix_micros(col("ts"))).collect().map(_.getLong(0)).sorted.toSeq

  test("each encoding scans as its expected raw type") {
    encodings.foreach { case (name, dir, want) =>
      assert(Tables.eventsTsType(spark, dir) === want, name)
    }
  }

  test("all encodings normalize to identical µs TimestampType instants") {
    encodings.foreach { case (name, dir, _) =>
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType === TimestampType, name)
      assert(instants(ev) === usValues.sorted, name)
    }
  }

  test("the NTZ branch ASSERTS the UTC session zone instead of mutating " +
       "it (a read must not reconfigure the session)") {
    // happy path: session pinned UTC at construction (SparkSpec) —
    // reads work and the conf is untouched
    Tables.events(spark, ntzDir).collect()
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    // a mis-pinned session fails LOUDLY (the silent alternative shifts
    // every instant), and the loader leaves the caller's zone alone
    val key = "spark.sql.session.timeZone"
    spark.conf.set(key, "America/New_York")
    try {
      val e = intercept[IllegalStateException] {
        Tables.events(spark, ntzDir).collect()
      }
      assert(e.getMessage.contains("America/New_York"))
      assert(spark.conf.get(key) === "America/New_York",
        "loader overwrote the session zone")
    } finally spark.conf.set(key, "UTC")
  }

  test("re-encoding a dataset at the same path invalidates the type " +
       "cache (mtime-keyed sniff)") {
    val dir = tmp("reenc")
    writeEvents(dir, (col("us") * 1000L).as("ts"))
    assert(Tables.eventsTsType(spark, dir) === LongType)
    assert(instants(Tables.events(spark, dir)) === usValues.sorted)
    // regenerate IN PLACE with a different encoding (the GenScale
    // write-then-read shape); ensure a distinct mtime even on a
    // coarse-grained filesystem clock
    new java.io.File(s"$dir/events.parquet").delete()
    writeEvents(dir, timestamp_micros(col("us")).cast(TimestampNTZType)
      .as("ts"))
    new java.io.File(s"$dir/events.parquet")
      .setLastModified(System.currentTimeMillis() + 5000)
    assert(Tables.eventsTsType(spark, dir) === TimestampNTZType,
      "stale cached encoding survived the re-encode")
    assert(instants(Tables.events(spark, dir)) === usValues.sorted)
  }

  test("a second load of a table runs no Spark job") {
    Tables.documents(spark, sf)
    val again = Trace.of(spark) { Tables.documents(spark, sf); () }
    assert(again.jobs.isEmpty, again.jobs.map(_.site).mkString("\n"))
  }

  test("window bounds cut identically and push into the scan in every encoding") {
    encodings.foreach { case (name, dir, _) =>
      val win = Tables.eventsWindow(spark, dir, Some(winLo), Some(winHi))
      assert(instants(win) === Seq(usValues(1)), name)
      // the filter must reach the parquet source: a pushed ts predicate
      // in the FileScan, not just a post-scan Filter node
      val scanLine = win.queryExecution.executedPlan.toString
        .linesIterator.find(_.contains("PushedFilters")).getOrElse("")
      assert(scanLine.contains("GreaterThanOrEqual(ts")
          && scanLine.contains("LessThan(ts"),
        s"$name: window not pushed: $scanLine")
    }
  }

  test("eventsStream yields the batch rows under the current encoding") {
    encodings.foreach { case (name, dir, _) =>
      val q = Tables.eventsStream(spark, dir)
        .select(unix_micros(col("ts")).as("us"), col("event_id"))
        .writeStream.outputMode("append")
        .format("memory").queryName(s"tables_stream_parity").start()
      try q.processAllAvailable() finally q.stop()
      val streamed = spark.table("tables_stream_parity")
        .collect().map(_.getLong(0)).sorted.toSeq
      spark.sql("DROP TABLE IF EXISTS tables_stream_parity")
      assert(streamed === usValues.sorted, name)
    }
  }
}
