package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.cdc.{EnvelopeCodec, SchemaRegistry}

/** LIVE mid-stream schema evolution (r10 verdict item 1): the
  * reference's BACKWARD acceptance cases
  * (`/root/reference/README.md:453-480` — the `cdc_test_db.person`
  * ALTER TABLE script) exercised against ONE RUNNING
  * [[CdcPipeline.startEvolvingAvro]] query, the writer schema changing
  * BETWEEN micro-batches while the stream stays up:
  *
  *   - case 1 (drop `lastName`)            → flows, dropped column
  *     reads null on new rows, old rows keep theirs
  *   - case 2 (add nullable `email`)       → flows, old rows read null
  *   - case 3 (add NOT NULL `address`)     → rejected AT THE GATE,
  *     rows quarantined to the dead letter, rejection recorded loudly,
  *     THE STREAM SURVIVES and keeps merging later good batches
  *
  * This is the live-connector complement of the batch replay
  * (`cdc_evolved_history`): there the whole mixed history exists up
  * front; here each schema version arrives while the query is running,
  * so the registry gate, the version-keyed decode, and the
  * normalization all happen inside the streaming scheduler.
  */
class LiveEvolutionSpec extends SparkSpec {

  private val subject = "osci.db.s1.cdc_test_db.person-value"
  private val topic = "osci.db.s1.cdc_test_db.person"
  private val baseTs = 1705276800000000L // 2024-01-15T00:00:00Z

  // the reference's person table, as writer-schema versions
  private val v1 = StructType(Seq(
    StructField("firstName", StringType),
    StructField("lastName", StringType),
    StructField("age", IntegerType)))
  private val v2 = StructType(v1.fields.filterNot(_.name == "lastName")) // case 1
  private val v3 = StructType(v2.fields :+ StructField("email", StringType)) // case 2
  private val v4 = StructType(v3.fields :+
    StructField("address", StringType, nullable = false)) // case 3

  /** One producer micro-batch: payload rows under `writer`, encoded as
    * binary-Avro envelopes with the (version, schema_json) pair every
    * record of a registry-converter wire carries.
    */
  private def wireBatch(writer: StructType, version: Int,
                        rows: Seq[Row]): DataFrame = {
    val full = StructType(writer.fields ++ Seq(
      StructField("event_id", LongType),
      StructField("ts_us", LongType),
      StructField("op", StringType)))
    val df = spark.createDataFrame(rows.asJava, full)
    val env = df.select(
      col("firstName").as("key"),
      lit(null).cast(writer).as("before"),
      struct(writer.fieldNames.map(col).toSeq: _*).as("after"),
      struct(lit("cdc_test_db").as("db"), lit("person").as("table"),
        lit(1L).as("server_id"), col("ts_us").as("ts_us")).as("source"),
      col("op"), col("ts_us"), lit(topic).as("topic"),
      col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
      lit(version).as("schema_version"),
      lit(writer.json).as("schema_json"))
    EnvelopeCodec.encodeAvro(env,
      passthrough = Seq("event_id", "ts", "schema_version", "schema_json"))
  }

  test("README truth table holds against a LIVE stream: cases 1-2 flow, " +
       "case 3 is rejected loudly and the stream survives") {
    val base = Files.createTempDirectory("liveevo").toString
    val (in, state, cp, dl) =
      (s"$base/in", s"$base/state", s"$base/cp", s"$base/dead")
    val registry = new SchemaRegistry()
    val rejections =
      new java.util.concurrent.CopyOnWriteArrayList[
        CdcPipeline.EvolvingRejection]()

    // micro-batch 1 (writer v1): two inserts, full original schema
    wireBatch(v1, 1, Seq(
      Row("alice", "doe", 18, 101L, baseTs, "c"),
      Row("bob", "doe", 30, 102L, baseTs + 1, "c")))
      .write.mode("append").parquet(in)

    val wireSchema = StructType(Seq(
      StructField("key", StringType),
      StructField("value", BinaryType),
      StructField("topic", StringType),
      StructField("event_id", LongType),
      StructField("ts", TimestampType),
      StructField("schema_version", IntegerType),
      StructField("schema_json", StringType)))
    val src = spark.readStream.schema(wireSchema).parquet(in)
    val q = CdcPipeline.startEvolvingAvro(src, state, cp, registry,
      subject, dl, CdcPipeline.Config(numBuckets = Some(8)),
      availableNow = false, onRejection = rejections.add(_))
    try {
      q.processAllAvailable()
      val s1 = CdcPipeline.currentState(spark, state).get
        .select("key", "lastName", "age").collect()
        .map(r => r.getString(0) -> ((r.getString(1), r.getInt(2)))).toMap
      assert(registry.history(subject).size === 1)
      assert(s1 === Map("alice" -> (("doe", 18)), "bob" -> (("doe", 30))))

      // micro-batch 2 (writer v2, CASE 1: lastName dropped): the gate
      // must accept, alice's newer image reads lastName null, bob
      // (untouched) keeps his — Debezium missing-field semantics
      wireBatch(v2, 2, Seq(Row("alice", 19, 103L, baseTs + 60000000L, "u")))
        .write.mode("append").parquet(in)
      q.processAllAvailable()
      assert(q.isActive, "stream must survive a compatible evolution")
      assert(registry.history(subject).size === 2)
      val s2 = CdcPipeline.currentState(spark, state).get
        .select("key", "lastName", "age").collect()
        .map(r => r.getString(0) ->
          ((Option(r.getString(1)), r.getInt(2)))).toMap
      assert(s2("alice") === ((None, 19)), "v2 rows read dropped col null")
      assert(s2("bob") === ((Some("doe"), 30)), "old rows keep theirs")

      // micro-batch 3 (writer v3, CASE 2: nullable email added): the
      // gate must accept; rows from older writers read email null
      wireBatch(v3, 3, Seq(
        Row("carol", 25, "c@x.io", 104L, baseTs + 120000000L, "c")))
        .write.mode("append").parquet(in)
      q.processAllAvailable()
      assert(registry.history(subject).size === 3)
      val s3 = CdcPipeline.currentState(spark, state).get
        .select("key", "email").collect()
        .map(r => r.getString(0) -> Option(r.getString(1))).toMap
      assert(s3 === Map("alice" -> None, "bob" -> None,
        "carol" -> Some("c@x.io")))

      // micro-batch 4 (writer v4, CASE 3: NOT NULL address, no
      // default): the gate must REFUSE — no new registry version, no
      // state change, rows quarantined, rejection recorded — and the
      // QUERY MUST STAY ALIVE (the reference's case 3 fails the
      // producer; the pipeline is not collateral damage)
      wireBatch(v4, 4, Seq(
        Row("dave", 40, "d@x.io", "12 Main St", 105L,
          baseTs + 180000000L, "c")))
        .write.mode("append").parquet(in)
      q.processAllAvailable()
      assert(q.isActive, "stream must survive the incompatible schema")
      assert(registry.history(subject).size === 3,
        "case 3 must not register a version")
      val s4 = CdcPipeline.currentState(spark, state).get
      assert(s4.filter(col("key") === "dave").isEmpty,
        "rejected rows must never reach state")
      assert(rejections.size === 1)
      assert(rejections.get(0).wireVersion === 4)
      assert(rejections.get(0).rows === 1L)
      assert(rejections.get(0).reasons.exists(
        _.contains("added as NOT NULL without default")))
      val quarantined = spark.read.parquet(s"$dl/v4")
      assert(quarantined.count() === 1L)
      assert(quarantined.select("key").head.getString(0) === "dave")
      val recFiles = new java.io.File(s"$dl/_REJECTIONS").listFiles()
        .filter(_.getName.endsWith(".json"))
      assert(recFiles.length === 1)
      val rec = new String(java.nio.file.Files.readAllBytes(
        recFiles.head.toPath))
      assert(rec.contains("\"wire_version\":4") &&
        rec.contains("added as NOT NULL without default"))

      // micro-batch 5 (writer v3 again): post-rejection LIVENESS — the
      // same query keeps merging good batches after the refusal
      wireBatch(v3, 3, Seq(
        Row("bob", 31, "b@x.io", 106L, baseTs + 240000000L, "u")))
        .write.mode("append").parquet(in)
      q.processAllAvailable()
      assert(q.isActive)
      val s5 = CdcPipeline.currentState(spark, state).get
        .select("key", "age", "email").collect()
        .map(r => r.getString(0) -> ((r.getInt(1), Option(r.getString(2)))))
        .toMap
      assert(s5("bob") === ((31, Some("b@x.io"))),
        "post-rejection batches must keep flowing")
      assert(s5.size === 3, "still no dave")
    } finally q.stop()
  }

  test("crash-restart replays the gate deterministically: a fresh query " +
       "over the same wire re-rejects v4 and converges to the same state") {
    val base = Files.createTempDirectory("liveevo2").toString
    val (in, state, cp, dl) =
      (s"$base/in", s"$base/state", s"$base/cp", s"$base/dead")
    // whole history present up front, including the poison version —
    // the restart-from-zero view of the first test's wire
    wireBatch(v1, 1, Seq(
      Row("alice", "doe", 18, 101L, baseTs, "c"),
      Row("bob", "doe", 30, 102L, baseTs + 1, "c")))
      .write.mode("append").parquet(in)
    wireBatch(v2, 2, Seq(Row("alice", 19, 103L, baseTs + 60000000L, "u")))
      .write.mode("append").parquet(in)
    wireBatch(v3, 3, Seq(
      Row("carol", 25, "c@x.io", 104L, baseTs + 120000000L, "c")))
      .write.mode("append").parquet(in)
    wireBatch(v4, 4, Seq(
      Row("dave", 40, "d@x.io", "addr", 105L, baseTs + 180000000L, "c")))
      .write.mode("append").parquet(in)
    val registry = new SchemaRegistry()
    val src = spark.readStream.schema(StructType(Seq(
      StructField("key", StringType),
      StructField("value", BinaryType),
      StructField("topic", StringType),
      StructField("event_id", LongType),
      StructField("ts", TimestampType),
      StructField("schema_version", IntegerType),
      StructField("schema_json", StringType)))).parquet(in)
    val q = CdcPipeline.startEvolvingAvro(src, state, cp, registry,
      subject, dl, CdcPipeline.Config(numBuckets = Some(8)))
    q.awaitTermination()
    assert(registry.history(subject).size === 3)
    val fin = CdcPipeline.currentState(spark, state).get
      .select("key", "age", "email").collect()
      .map(r => r.getString(0) -> ((r.getInt(1), Option(r.getString(2)))))
      .toMap
    assert(fin === Map(
      "alice" -> ((19, None)),
      "bob" -> ((30, None)),
      "carol" -> ((25, Some("c@x.io")))))
    assert(spark.read.parquet(s"$dl/v4").count() === 1L)
  }
}
