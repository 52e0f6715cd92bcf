package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.cdc.Materialize
import graft.ops.CdcQueries
import graft.sources.Tables

/** Streaming CDC pipeline: batch/stream parity, incremental restart,
  * and at-least-once redelivery (SURVEY.md §5.2 item 2, §7.1 M5).
  */
class CdcPipelineSpec extends SparkSpec {

  private val cutoffUs = 1705276800000000L // 2024-01-15T00:00:00Z

  /** Change feed with the event-time column the watermark needs. */
  private def feed: DataFrame =
    CdcQueries.flatFeed(spark, sf)
      .withColumn("ts", timestamp_micros(col("ts_us")))

  private def runStream(inDir: String, stateDir: String, cpDir: String): Unit = {
    val src = CdcPipeline.fileSource(spark, inDir, feed.schema)
    val q = CdcPipeline.start(src, stateDir, cpDir)
    q.awaitTermination()
  }

  private def expectedState(f: DataFrame): DataFrame =
    Materialize.currentState(f.drop("ts"), Seq("key"),
      Seq(col("ts_us"), col("event_id")))

  test("stream materialization equals batch replay (two incremental runs)") {
    val base = Files.createTempDirectory("cdcpipe").toString
    val (in, state, cp) = (s"$base/in", s"$base/state", s"$base/cp")

    // chunk 1: events before the cutoff
    feed.filter(col("ts_us") < cutoffUs)
      .write.mode("append").parquet(in)
    runStream(in, state, cp)
    val mid = CdcPipeline.currentState(spark, state).get
    val expectedMid = expectedState(feed.filter(col("ts_us") < cutoffUs))
    assert(mid.select("key", "value", "props").except(
      expectedMid.select("key", "value", "props")).isEmpty)
    assert(expectedMid.count() === mid.count())

    // chunk 2: the rest arrives; restart from the same checkpoint
    feed.filter(col("ts_us") >= cutoffUs)
      .write.mode("append").parquet(in)
    runStream(in, state, cp)
    val fin = CdcPipeline.currentState(spark, state).get
    val expectedFin = expectedState(feed)
    assert(fin.select("key", "value", "props").except(
      expectedFin.select("key", "value", "props")).isEmpty)
    assert(expectedFin.count() === fin.count())
  }

  test("duplicate deliveries across files collapse to the same state") {
    val base = Files.createTempDirectory("cdcdup").toString
    val (in, state, cp) = (s"$base/in", s"$base/state", s"$base/cp")
    // same events written twice = at-least-once redelivery
    feed.write.mode("append").parquet(in)
    feed.write.mode("append").parquet(in)
    runStream(in, state, cp)
    val fin = CdcPipeline.currentState(spark, state).get
    val expected = expectedState(feed)
    assert(fin.count() === expected.count())
    assert(fin.select("key", "value").except(
      expected.select("key", "value")).isEmpty)
  }

  test("binary-Avro wire feed streams to the same materialized state") {
    import org.apache.spark.sql.types._
    val base = Files.createTempDirectory("cdcavro").toString
    val (in, state, cp) = (s"$base/in", s"$base/state", s"$base/cp")
    val rowSchema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("value", DoubleType),
      StructField("props", StringType)))

    // producer side: envelope → binary Avro wire records (+ event_id as
    // the record-metadata analog of a Kafka offset)
    val env = graft.cdc.ChangeFeed.envelope(Tables.events(spark, sf))
    graft.cdc.EnvelopeCodec.encodeAvro(env, passthrough = Seq("event_id"))
      .write.mode("append").parquet(in)

    // consumer side: stream the wire, decode INSIDE the stream, flatten,
    // and run the standard dedup→merge pipeline
    val wireSchema = StructType(Seq(
      StructField("key", StringType),
      StructField("value", BinaryType),
      StructField("topic", StringType),
      StructField("event_id", LongType)))
    val wire = spark.readStream.schema(wireSchema).parquet(in)
    val decoded = graft.cdc.EnvelopeCodec
      .decodeAvro(wire, rowSchema, passthrough = Seq("event_id"))
      .select(col("key"), col("event_id"), col("ts_us"),
        col("after.value").as("value"), col("after.props").as("props"),
        col("op"))
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = CdcPipeline.start(decoded, state, cp)
    q.awaitTermination()

    val fin = CdcPipeline.currentState(spark, state).get
    val expected = expectedState(feed)
    assert(fin.count() === expected.count())
    assert(fin.select("key", "value", "props").except(
      expected.select("key", "value", "props")).isEmpty)
  }

  test("merge rewrites only the buckets the batch's keys hash into") {
    import java.nio.file.{Files => JFiles, Paths}
    import scala.jdk.CollectionConverters._
    val base = Files.createTempDirectory("cdcscope").toString
    val state = s"$base/state"
    val cfg = CdcPipeline.Config(numBuckets = Some(8))
    val full = feed.drop("ts")

    // batch 1: the whole feed spreads keys across many buckets
    CdcPipeline.mergeBatch(full, state, cfg, 0L)

    def snapshot(): Map[String, (Long, String)] =
      JFiles.walk(Paths.get(s"$state/batches")).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map { p =>
          val bytes = JFiles.readAllBytes(p)
          (p.toString,
            (JFiles.getLastModifiedTime(p).toMillis,
              java.security.MessageDigest.getInstance("MD5")
                .digest(bytes).map("%02x".format(_)).mkString))
        }.toMap
    val before = snapshot()

    // batch 2: one single key — exactly one bucket should change. Force
    // op=u and a ts past everything so the upsert definitely lands.
    val maxTs = full.agg(max("ts_us")).head().getLong(0)
    val oneKey = full.orderBy(col("key"), col("ts_us")).limit(1)
      .withColumn("ts_us", lit(maxTs + 1000000L))
      .withColumn("op", lit("u"))
    val touchedBucket = oneKey
      .select(CdcPipeline.bucketOf(cfg.keyCols, 8).as("b"))
      .head().getInt(0)
    CdcPipeline.mergeBatch(oneKey, state, cfg, 1L)
    val after = snapshot()

    val untouchedBefore = before.filter {
      case (p, _) => !p.contains(s"__bucket=$touchedBucket/")
    }
    val untouchedAfter = after.filter {
      case (p, _) => !p.contains(s"__bucket=$touchedBucket/")
    }
    // untouched buckets: identical file paths, mtimes, and content bytes
    assert(untouchedBefore === untouchedAfter)
    // the touched bucket WAS rewritten
    val touchedBefore = before.filter(_._1.contains(s"__bucket=$touchedBucket/"))
    val touchedAfter = after.filter(_._1.contains(s"__bucket=$touchedBucket/"))
    assert(touchedBefore !== touchedAfter)
    // and the merged state is still correct: upserted key carries new ts
    val st = CdcPipeline.currentState(spark, state).get
    val k = oneKey.select("key").head().getString(0)
    val expectedTs = Materialize.currentState(
      full.unionByName(oneKey), Seq("key"),
      Seq(col("ts_us"), col("event_id")))
      .filter(col("key") === k).select("ts_us").head().getLong(0)
    assert(st.filter(col("key") === k).select("ts_us").head().getLong(0)
      === expectedTs)
  }

  test("schema drift: an added column merges (nulls for untouched " +
       "rows), a dropped column nulls instead of failing") {
    val base = Files.createTempDirectory("cdcdrift").toString
    val state = s"$base/state"
    val cfg = CdcPipeline.Config(numBuckets = Some(8))
    val b1 = feed.filter(col("ts_us") < cutoffUs).drop("ts")
    CdcPipeline.mergeBatch(b1, state, cfg, batchId = 0)

    // batch 2 ADDS source_region for a subset of keys
    val driftKeys = feed.filter(col("ts_us") >= cutoffUs)
    val b2 = driftKeys.drop("ts")
      .withColumn("source_region", lit("eu-central"))
    CdcPipeline.mergeBatch(b2, state, cfg, batchId = 1)
    val s2 = CdcPipeline.currentState(spark, state).get
    assert(s2.columns.contains("source_region"),
      "added column lost in merge")
    val touched = Materialize.latest(feed.drop("ts"), Seq("key"),
      Seq(col("ts_us"), col("event_id")))
      .filter(col("ts_us") >= cutoffUs && col("op") =!= "d")
      .select("key").collect().map(_.getString(0)).toSet
    val regionByKey = s2.select("key", "source_region").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    // EXACTLY the keys whose latest row came from the drifted batch
    // carry the value; everything else reads null
    assert(regionByKey.forall { case (k, region) =>
      if (touched.contains(k)) region.contains("eu-central")
      else region.isEmpty
    }, "source_region not aligned with which batch last touched the key")

    // batch 3 DROPS props entirely — merge must not fail, its rows
    // read null props
    val lateUs = feed.agg(max(col("ts_us"))).head().getLong(0) + 1000L
    val b3 = b1.limit(5)
      .withColumn("ts_us", lit(lateUs))
      .withColumn("op", lit("u"))
      .drop("props")
    CdcPipeline.mergeBatch(b3, state, cfg, batchId = 2)
    val s3 = CdcPipeline.currentState(spark, state).get
    val b3keys = b3.select("key").collect().map(_.getString(0)).toSet
    val nullProps = s3.filter(col("key").isin(b3keys.toSeq: _*))
      .filter(col("props").isNull).count()
    assert(nullProps == b3keys.size,
      "dropped-column batch rows should read null props")

    // drift tolerance is payload-only: losing a key/order/op column
    // must fail loudly, not null-collapse the batch
    intercept[IllegalArgumentException] {
      CdcPipeline.mergeBatch(b1.drop("key"), state, cfg, batchId = 3)
    }
    intercept[IllegalArgumentException] {
      CdcPipeline.mergeBatch(b1.drop("op"), state, cfg, batchId = 4)
    }
  }

  test("meta/schema is grow-only: a fresh-buckets-only batch missing a " +
       "drifted column cannot shrink the stored union") {
    import org.apache.spark.sql.types.{DataType, StructType}
    val base = Files.createTempDirectory("cdcgrow").toString
    val state = s"$base/state"
    val cfg = CdcPipeline.Config(numBuckets = Some(8))
    def metaSchema: StructType = DataType.fromJson(Files.readString(
      java.nio.file.Paths.get(s"$state/meta/schema")))
      .asInstanceOf[StructType]
    def bucketsOf(df: DataFrame): Set[Int] = df
      .select(pmod(xxhash64(col("key")), lit(8)).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    // batch 1 carries the drifted column into SOME buckets
    val b1 = feed.filter(col("ts_us") < cutoffUs).drop("ts")
      .withColumn("source_region", lit("eu-central"))
    CdcPipeline.mergeBatch(b1, state, cfg, batchId = 0)
    assert(metaSchema.fieldNames.contains("source_region"))
    val used = bucketsOf(b1)
    // batch 2: synthetic keys chosen to hash ONLY into untouched
    // buckets, WITHOUT the drifted column — merged = latest (no state
    // read), so the persisted union must still carry source_region
    val fresh = feed.drop("ts").limit(50)
      .withColumn("key", concat(lit("growk-"),
        monotonically_increasing_id().cast("string")))
      .filter(!pmod(xxhash64(col("key")), lit(8)).cast("int")
        .isin(used.toSeq: _*))
    assert(fresh.count() > 0, "fixture needs at least one fresh-bucket key")
    assert((bucketsOf(fresh) intersect used).isEmpty)
    CdcPipeline.mergeBatch(fresh, state, cfg, batchId = 1)
    assert(metaSchema.fieldNames.contains("source_region"),
      "fresh-buckets batch shrank the stored union schema")
    // the drifted values on the old buckets survive a later merge
    val s2 = CdcPipeline.currentState(spark, state).get
    assert(s2.filter(col("source_region") === "eu-central").count() > 0)
  }

  test("replaying an older batch after a newer one is a no-op") {
    val base = Files.createTempDirectory("cdcooo").toString
    val state = s"$base/state"
    val cfg = CdcPipeline.Config()
    val full = feed.drop("ts")

    CdcPipeline.mergeBatch(full, state, cfg, 0L)
    def snap(): Set[String] = CdcPipeline.currentState(spark, state).get
      .select("key", "event_id", "ts_us", "value", "props")
      .collect().map(_.toString).toSet
    val before = snap()

    // out-of-order redelivery: an OLD slice arrives again — every state
    // row out-orders it, including retained tombstones, so nothing moves
    val oldSlice = full.filter(col("ts_us") < cutoffUs)
    assert(oldSlice.count() > 0)
    CdcPipeline.mergeBatch(oldSlice, state, cfg, 1L)
    assert(snap() === before)

    // specifically: a key whose FINAL op is a delete but which has an
    // older upsert in the replayed slice must stay deleted
    val deletedKeys = Materialize.latest(full, Seq("key"),
        Seq(col("ts_us"), col("event_id")))
      .filter(col("op") === "d").select("key")
    val resurrectable = oldSlice.filter(col("op") =!= "d")
      .join(deletedKeys, Seq("key"), "left_semi")
      .select("key").distinct().collect().map(_.getString(0))
    if (resurrectable.nonEmpty) {
      val st = CdcPipeline.currentState(spark, state).get
      assert(st.filter(col("key").isin(resurrectable.toSeq: _*)).isEmpty,
        "deleted key resurrected by an older replayed upsert")
    }
  }

  test("compaction drops expired tombstones, keeps live state intact") {
    val base = Files.createTempDirectory("cdccompact").toString
    val state = s"$base/state"
    val cfg = CdcPipeline.Config()
    val full = feed.drop("ts")
    CdcPipeline.mergeBatch(full, state, cfg, 0L)

    val liveBefore = CdcPipeline.currentState(spark, state).get
      .select("key", "event_id", "ts_us", "value", "props")
      .collect().map(_.toString).toSet
    // internal state view: every bucket dir the newest version maps
    def tombstones(): Long =
      spark.read.parquet(CdcPipeline.retainedBuckets(spark, state).last: _*)
        .filter(col("op") === "d").count()
    val tombsBefore = tombstones()
    assert(tombsBefore > 0, "fixture needs at least one tombstone")

    // horizon beyond every event: all tombstones expire
    val horizon = full.agg(max("ts_us")).head().getLong(0) + 1L
    CdcPipeline.compact(spark, state, cfg, horizon, 1L)

    assert(tombstones() === 0L)
    val liveAfter = CdcPipeline.currentState(spark, state).get
      .select("key", "event_id", "ts_us", "value", "props")
      .collect().map(_.toString).toSet
    assert(liveAfter === liveBefore)

    // merges still work after compaction (protocol unchanged)
    val maxTs = full.agg(max("ts_us")).head().getLong(0)
    val oneKey = full.orderBy(col("key"), col("ts_us")).limit(1)
      .withColumn("ts_us", lit(maxTs + 1000000L))
      .withColumn("op", lit("u"))
    CdcPipeline.mergeBatch(oneKey, state, cfg, 2L)
    assert(CdcPipeline.currentState(spark, state).get.count()
      === liveBefore.size)
  }

  test("merging with a different numBuckets than the state layout fails " +
       "loudly") {
    val base = Files.createTempDirectory("cdcbuckets").toString
    val state = s"$base/state"
    val full = feed.drop("ts")
    CdcPipeline.mergeBatch(full, state,
      CdcPipeline.Config(numBuckets = Some(8)), 0L)
    // a different modulus would recompute bucketOf against the old
    // layout → keys live in two bucket dirs; must be rejected up front
    val e = intercept[IllegalArgumentException] {
      CdcPipeline.mergeBatch(full, state,
        CdcPipeline.Config(numBuckets = Some(16)), 1L)
    }
    assert(e.getMessage.contains("numBuckets"))
    intercept[IllegalArgumentException] {
      CdcPipeline.compact(spark, state,
        CdcPipeline.Config(numBuckets = Some(16)), Long.MaxValue, 2L)
    }
    // the original layout still merges fine
    CdcPipeline.mergeBatch(full, state,
      CdcPipeline.Config(numBuckets = Some(8)), 3L)
  }

  test("GC keeps each bucket's most recently superseded version for " +
       "in-flight readers") {
    val base = Files.createTempDirectory("cdcgc").toString
    val state = s"$base/state"
    val cfg = CdcPipeline.Config(numBuckets = Some(4))
    val full = feed.drop("ts")
    CdcPipeline.mergeBatch(full, state, cfg, 0L)

    // a reader resolves pointers NOW but scans lazily (currentState's
    // documented contract) …
    val lazyReader = CdcPipeline.currentState(spark, state).get
    val expectBefore = lazyReader.count()

    // … while two more merges land and flip every touched bucket twice
    val bump1 = full.withColumn("ts_us", col("ts_us") + 1000000L)
      .withColumn("op", when(col("op") === "d", "d").otherwise("u"))
    CdcPipeline.mergeBatch(bump1, state, cfg, 1L)
    val bump2 = bump1.withColumn("ts_us", col("ts_us") + 1000000L)
    CdcPipeline.mergeBatch(bump2, state, cfg, 2L)

    // the generation the reader resolved (batch 1's dirs) was superseded
    // by batch 2 AND batch 3 — keep-previous preserves only one
    // generation back, so the count() below exercises exactly the
    // just-superseded window: re-resolve after each commit in real use.
    // Here we assert the SECOND merge's reader survives the third:
    val midReader = CdcPipeline.currentState(spark, state).get
    CdcPipeline.mergeBatch(
      bump2.withColumn("ts_us", col("ts_us") + 1000000L), state, cfg, 3L)
    assert(midReader.count() === expectBefore,
      "reader that resolved pointers before the last commit must still " +
        "scan its generation")
    assert(expectBefore ===
      CdcPipeline.currentState(spark, state).get.count())
    assert(midReader.count() > 0)
  }

  test("multi-table fan-out: one stream, two tables with different " +
       "schemas, each store equals its per-table batch materialization") {
    val base = Files.createTempDirectory("cdcmulti").toString
    val users = "osci.db.srv1.db1.users"
    val orders = "osci.db.srv1.db1.orders"
    // union-schema mixed feed: users rows carry value/props, orders
    // rows carry amount (different payload schemas on one wire)
    val mixed = feed
      .withColumn("topic",
        when(pmod(col("key").cast("long"), lit(2)) === 0, users)
          .otherwise(orders))
      .withColumn("amount",
        when(col("topic") === orders,
          (col("value").cast("decimal(18,2)") * 100).cast("long")))
    mixed.coalesce(2).write.mode("append").parquet(s"$base/in")
    val src = CdcPipeline.fileSource(spark, s"$base/in", mixed.schema)
    val common = Seq("key", "event_id", "ts_us", "op")
    val q = CdcPipeline.startMultiTable(src, s"$base/st", s"$base/cp",
      tables = Map(users -> (common ++ Seq("value", "props")),
        orders -> (common :+ "amount")))
    q.awaitTermination()

    // users store ≡ batch materialization of the users slice
    val uState = CdcPipeline.currentState(spark,
      CdcPipeline.tablePath(s"$base/st", users)).get
    val uExpected = expectedState(mixed.filter(col("topic") === users))
    assert(uState.count() === uExpected.count() && uState.count() > 0)
    assert(uState.select("key", "value", "props").except(
      uExpected.select("key", "value", "props")).isEmpty)
    assert(!uState.columns.contains("amount"),
      "users store must carry only the users schema")

    // orders store ≡ batch materialization of the orders slice
    val oState = CdcPipeline.currentState(spark,
      CdcPipeline.tablePath(s"$base/st", orders)).get
    val oExpected = expectedState(mixed.filter(col("topic") === orders))
      .select(col("key"), col("amount"))
    assert(oState.count() === oExpected.count() && oState.count() > 0)
    assert(oState.select("key", "amount").except(oExpected).isEmpty)
    assert(!oState.columns.contains("props"),
      "orders store must carry only the orders schema")

    // no key leaks across stores: the two key sets are disjoint
    assert(uState.select("key")
      .join(oState.select("key"), Seq("key")).isEmpty)
  }

  test("sink schema gate: compatible evolutions merge, the reference's " +
       "case-3 batch rejects with the registry verdict, state untouched") {
    val base = Files.createTempDirectory("cdcgate").toString
    val state = s"$base/state"
    val cfg = CdcPipeline.Config(numBuckets = Some(8))
    val registry = new graft.cdc.SchemaRegistry()
    val subject = "osci.db.srv1.db1.person-value"
    val b1 = feed.filter(col("ts_us") < cutoffUs).drop("ts")
    CdcPipeline.mergeBatchGated(b1, state, cfg, 0L, registry, subject)
    assert(registry.history(subject).size === 1)

    val rest = feed.filter(col("ts_us") >= cutoffUs).drop("ts")
    // case 1 (README.md:466-479): drop a column → compatible, merges
    CdcPipeline.mergeBatchGated(rest.drop("props"), state, cfg, 1L,
      registry, subject)
    assert(registry.history(subject).size === 2)
    // case 2: add a NULLABLE column → compatible, merges
    CdcPipeline.mergeBatchGated(
      rest.withColumn("email", when(col("op") === "u", lit("a@b.c"))),
      state, cfg, 2L, registry, subject)
    assert(registry.history(subject).size === 3)
    val goodState = CdcPipeline.currentState(spark, state).get
      .select("key", "event_id", "ts_us").collect().map(_.toString).toSet
    val commitsBefore = CdcPipeline.commits(spark, state)

    // case 3: add a NOT NULL column without default → the registry
    // verdict fails the merge BEFORE any write, like the reference's
    // producer-side gate
    val e = intercept[IllegalArgumentException] {
      CdcPipeline.mergeBatchGated(
        rest.withColumn("address", lit("xyz")), state, cfg, 3L,
        registry, subject)
    }
    assert(e.getMessage.contains("address"))
    assert(registry.history(subject).size === 3,
      "rejected schema must not be registered")
    // state untouched: same commits, same rows
    assert(CdcPipeline.commits(spark, state) === commitsBefore)
    assert(CdcPipeline.currentState(spark, state).get
      .select("key", "event_id", "ts_us").collect().map(_.toString).toSet
      === goodState)
  }

  test("mid-stream kill + restart from checkpoint converges to the " +
       "uninterrupted run's state") {
    val base = Files.createTempDirectory("cdcrestart").toString
    val (in, cp) = (s"$base/in", s"$base/cp")
    // many source files in EVENT-TIME ORDER (Kafka-like arrival: the
    // file source picks files up in mod-time order) so
    // maxFilesPerTrigger=1 yields many micro-batches with a properly
    // trailing watermark — room to die in the middle without late-drops
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("ts_us"), col("event_id"))
    val chunked = feed.withColumn("__rn", row_number().over(w))
    val per = math.ceil(chunked.count() / 8.0).toLong
    (0 until 8).foreach { i =>
      chunked.filter(col("__rn") > i * per && col("__rn") <= (i + 1) * per)
        .drop("__rn").coalesce(1).write.mode("append").parquet(in)
      Thread.sleep(30) // distinct mod-times keep pickup order stable
    }
    val src = CdcPipeline.fileSource(spark, in, feed.schema,
      options = Map("maxFilesPerTrigger" -> "1"))

    // run 1: stop the query as soon as SOME batches committed (a crash
    // leaves the checkpoint mid-stream; stop() here — the commit
    // protocol's crash-safety under torn batches is mergeBatch's own
    // replay-idempotence, covered above)
    val q1 = CdcPipeline.start(src, s"$base/state", cp,
      availableNow = false)
    val deadline = System.currentTimeMillis() + 120000
    while (q1.recentProgress.count(_.numInputRows > 0) < 3 &&
           System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    q1.stop()
    // a stop mid-batch may surface as a task-killed exception — that IS
    // the simulated crash, not a test failure
    try q1.awaitTermination() catch { case _: Exception => () }
    val full = expectedState(feed)
    val processed = q1.recentProgress.map(_.numInputRows).sum
    assert(processed < feed.count(),
      s"fixture must genuinely die mid-stream — saw all $processed rows")

    // run 2: SAME checkpoint — resumes from committed offsets, replays
    // the torn tail, drains the rest
    val q2 = CdcPipeline.start(
      CdcPipeline.fileSource(spark, in, feed.schema), s"$base/state", cp)
    q2.awaitTermination()
    val recovered = CdcPipeline.currentState(spark, s"$base/state").get

    // end-state equality with an UNINTERRUPTED run over the same input
    val q3 = CdcPipeline.start(
      CdcPipeline.fileSource(spark, in, feed.schema),
      s"$base/state2", s"$base/cp2")
    q3.awaitTermination()
    val uninterrupted = CdcPipeline.currentState(spark, s"$base/state2").get
    assert(recovered.count() === uninterrupted.count())
    assert(recovered.select("key", "value", "props").except(
      uninterrupted.select("key", "value", "props")).isEmpty)
    assert(uninterrupted.select("key", "value", "props").except(
      recovered.select("key", "value", "props")).isEmpty)
    // and both equal the batch materialization
    assert(recovered.count() === full.count())
    assert(recovered.select("key", "value", "props").except(
      full.select("key", "value", "props")).isEmpty)
  }

  test("tombstoned keys are absent from the materialized state") {
    val base = Files.createTempDirectory("cdctomb").toString
    val (in, state, cp) = (s"$base/in", s"$base/state", s"$base/cp")
    feed.write.mode("append").parquet(in)
    runStream(in, state, cp)
    val fin = CdcPipeline.currentState(spark, state).get
    val deletedLast = Materialize.latest(feed.drop("ts"), Seq("key"),
      Seq(col("ts_us"), col("event_id")))
      .filter(col("op") === "d").select("key")
    assert(fin.join(deletedLast, Seq("key"), "left_semi").isEmpty)
  }
}
