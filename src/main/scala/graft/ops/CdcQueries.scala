package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.{ChangeFeed, Materialize}
import graft.sources.Tables
import graft.streaming.CdcPipeline

/** The CDC query inventory (SURVEY.md §2.B rows "Scans/sources",
  * "Aggregation/state", "Streaming" batch-equivalents).
  *
  * All queries derive the change feed from `events.parquet` inside the
  * query (FIXTURES.md B.1) so the DuckDB oracle replays identical input.
  */
object CdcQueries extends QueryPack {

  /** Shared oracle CTE: the derived change feed, flattened. */
  private val feedCte =
    """WITH feed AS (
      |  SELECT CAST(user_id AS VARCHAR) AS key, event_id,
      |         epoch_us(ts) AS ts_us, value, props,
      |         CASE WHEN event_type = 'signup' THEN 'c'
      |              WHEN event_type = 'error'  THEN 'd'
      |              ELSE 'u' END AS op
      |  FROM events)""".stripMargin

  /** Spark-side flattened feed matching [[feedCte]]. */
  def flatFeed(spark: SparkSession, dir: String): DataFrame =
    flatFeedWindow(spark, dir, None, None)

  /** Flat feed over an event-time window pushed into the parquet scan
    * ([[Tables.eventsWindow]]) — the row content of the flat feed is
    * window-invariant (only the unused `before` lag sees neighbors), so
    * pre-filtering is semantics-preserving.
    */
  def flatFeedWindow(spark: SparkSession, dir: String,
                     fromUs: Option[Long], untilUs: Option[Long])
      : DataFrame =
    ChangeFeed.envelope(Tables.eventsWindow(spark, dir, fromUs, untilUs))
      .select(
        col("key"), col("event_id"), col("ts_us"),
        col("after.value").as("value"), col("after.props").as("props"),
        col("op"))

  val cutoffUs = 1705276800000000L // 2024-01-15T00:00:00Z in µs
  private val cutoff2Us = 1705708800000000L // 2024-01-20T00:00:00Z in µs

  /** Latest-wins materialized state, the oracle for upsert/snapshot paths. */
  private val materializedStateSql =
    s"""$feedCte,
      | ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY key
      |            ORDER BY ts_us DESC, event_id DESC) AS rn
      |  FROM feed)
      |SELECT key, value, props
      |FROM ranked WHERE rn = 1 AND op <> 'd'
      |ORDER BY key""".stripMargin

  def queries: Seq[Q] = Seq(

    // End-to-end CDC-consumer composite (the reference's downstream:
    // README.md:22's Hudi consumer feeding analytics): materialize the
    // latest non-deleted row per key, join it to the key's full change
    // history rolled up decimal-exact — "current state + lifetime
    // activity" in one oracled query. Two shuffles total (the
    // latest-wins window and the history agg share the key), then a
    // key-equi join of two already-key-partitioned sides.
    Q("pipeline_cdc_metrics",
      (s, d) => {
        val state = Materialize.currentState(
            flatFeed(s, d), Seq("key"), Seq(col("ts_us"), col("event_id")))
          .select(col("key"), col("value").as("last_value"),
            col("ts_us").as("last_ts_us"))
        val activity = flatFeed(s, d)
          .groupBy(col("key"))
          .agg(count(lit(1)).as("n_changes"),
            sum(col("value").cast("decimal(18,2)")).cast("double")
              .as("total_value"))
        state.join(activity, Seq("key"))
          .orderBy(col("key"))
      },
      Some(s"""$feedCte,
        | ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |            ORDER BY ts_us DESC, event_id DESC) AS rn
        |  FROM feed),
        | state AS (
        |  SELECT key, value AS last_value, ts_us AS last_ts_us
        |  FROM ranked WHERE rn = 1 AND op <> 'd'),
        | act AS (
        |  -- delete events carry no after-image (value NULL in the
        |  -- envelope), so the rollup sums non-delete changes only
        |  SELECT key, count(*) AS n_changes,
        |    CAST(sum(CASE WHEN op <> 'd'
        |             THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
        |      AS total_value
        |  FROM feed GROUP BY key)
        |SELECT key, last_value, last_ts_us, n_changes, total_value
        |FROM state JOIN act USING (key)
        |ORDER BY key""".stripMargin)),

    // S1/P4-P7 — build the Debezium-style envelope and project it flat.
    Q("cdc_envelope",
      (s, d) => ChangeFeed.envelope(Tables.events(s, d)).select(
        col("key"),
        col("before.value").as("before_value"),
        col("after.value").as("after_value"),
        col("op"), col("ts_us"), col("topic"), col("event_id"))
        .orderBy(col("event_id")),
      Some(s"""WITH feed AS (
        |  SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
        |         CASE WHEN event_type = 'signup' THEN 'c'
        |              WHEN event_type = 'error'  THEN 'd'
        |              ELSE 'u' END AS op,
        |         lag(value) OVER (PARTITION BY user_id
        |                          ORDER BY ts, event_id) AS prev_value
        |  FROM events)
        |SELECT CAST(user_id AS VARCHAR) AS key,
        |       CASE WHEN op = 'c' THEN NULL ELSE prev_value END AS before_value,
        |       CASE WHEN op = 'd' THEN NULL ELSE value END AS after_value,
        |       op, ts_us,
        |       'osci.db.mysql-server-1.cdc_test_db.person' AS topic,
        |       event_id
        |FROM feed ORDER BY event_id""".stripMargin)),

    // P1/P2 — the same envelope routed through the BINARY AVRO wire
    // (encode → bytes → decode): proves the Avro serde is lossless on a
    // feed the oracle can state without knowing Avro exists. The wire
    // schema mirrors mskc-connector.sh:440-445 (GENERIC_RECORD values).
    Q("cdc_envelope_avro",
      (s, d) => {
        import org.apache.spark.sql.types._
        val rowSchema = StructType(Seq(
          StructField("user_id", LongType),
          StructField("value", DoubleType),
          StructField("props", StringType)))
        val feed = ChangeFeed.envelope(Tables.events(s, d))
        val decoded = graft.cdc.EnvelopeCodec.decodeAvro(
          graft.cdc.EnvelopeCodec.encodeAvro(feed), rowSchema)
        decoded.select(
          col("key"),
          col("before.value").as("before_value"),
          col("after.value").as("after_value"),
          col("op"), col("ts_us"), col("topic"))
          .orderBy(col("key").cast("long"), col("ts_us"), col("op"),
            col("after_value"), col("before_value"))
      },
      Some(s"""WITH feed AS (
        |  SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
        |         CASE WHEN event_type = 'signup' THEN 'c'
        |              WHEN event_type = 'error'  THEN 'd'
        |              ELSE 'u' END AS op,
        |         lag(value) OVER (PARTITION BY user_id
        |                          ORDER BY ts, event_id) AS prev_value
        |  FROM events)
        |SELECT CAST(user_id AS VARCHAR) AS key,
        |       CASE WHEN op = 'c' THEN NULL ELSE prev_value END AS before_value,
        |       CASE WHEN op = 'd' THEN NULL ELSE value END AS after_value,
        |       op, ts_us,
        |       'osci.db.mysql-server-1.cdc_test_db.person' AS topic
        |FROM feed
        |ORDER BY user_id, ts_us, op, after_value, before_value""".stripMargin)),

    // T4/S7/P1 end-to-end — replay a topic history whose WRITER SCHEMA
    // EVOLVED mid-stream, through ALL THREE of the reference's
    // acceptance cases (/root/reference/README.md:466-479): rows before
    // cutoff1 were produced under v1 (user_id, value — no props column
    // yet); the registry accepts v2 = v1 + nullable props (case 2:
    // add nullable → pass), then v3 = v2 minus value (case 1: drop a
    // column → pass) for rows after cutoff2, and REJECTS v4 = v3 + a
    // NOT NULL column (case 3: fail) — v4 never reaches the wire. Each
    // slice round-trips binary Avro with its writer schema, decodes per
    // registered version, and normalizes into the merged read schema
    // (v1 rows surface props = NULL, v3 rows value = NULL) before
    // latest-wins materialization. The oracle replays the
    // consumer-visible outcome with no Avro at all.
    Q("cdc_evolved_history",
      (s, d) => {
        import org.apache.spark.sql.Column
        import org.apache.spark.sql.types._
        import graft.cdc.{EnvelopeCodec, SchemaRegistry}
        val subject = "osci.db.mysql-server-1.cdc_test_db.person-value"
        val v1 = StructType(Seq(
          StructField("user_id", LongType),
          StructField("value", DoubleType)))
        val v2 = StructType(v1.fields :+ StructField("props", StringType))
        val v3 = StructType(v2.fields.filterNot(_.name == "value"))
        val v4 = StructType(v3.fields :+
          StructField("priority", IntegerType, nullable = false))
        val registry = new SchemaRegistry()
        require(registry.register(subject, v1) == Right(1), "v1 register")
        require(registry.register(subject, v2) == Right(2),
          "case 2 (add nullable column) must be accepted")
        require(registry.register(subject, v3) == Right(3),
          "case 1 (drop a column) must be accepted")
        require(registry.register(subject, v4).isLeft,
          "case 3 (add NOT NULL column) must be rejected")

        val feed = ChangeFeed.envelope(Tables.events(s, d))
        // each slice narrowed to its WRITER schema before encoding —
        // a v1 producer never emitted props, a v3 one no longer value
        def narrow(c: String, fields: Seq[String]): Column =
          when(col(c).isNull, lit(null)).otherwise(
            struct(fields.map(f => col(s"$c.$f").as(f)): _*)).as(c)
        def slice(cond: Column, fields: Seq[String], v: Int) =
          EnvelopeCodec.encodeAvro(
            feed.filter(cond)
              .withColumn("before", narrow("before", fields))
              .withColumn("after", narrow("after", fields)),
            passthrough = Seq("event_id"))
            .withColumn("schema_version", lit(v))
        val wire =
          slice(col("ts_us") < cutoffUs,
            Seq("user_id", "value"), 1)
          .unionByName(slice(
            col("ts_us") >= cutoffUs && col("ts_us") < cutoff2Us,
            Seq("user_id", "value", "props"), 2))
          .unionByName(slice(col("ts_us") >= cutoff2Us,
            Seq("user_id", "props"), 3))
        val decoded = EnvelopeCodec.decodeEvolvedAvro(
          wire, registry, subject, passthrough = Seq("event_id"))
        val flat = decoded.select(col("key"), col("event_id"),
          col("ts_us"), col("op"),
          col("after.value").as("value"),
          col("after.props").as("props"),
          col("schema_version"))
        Materialize.currentState(flat, Seq("key"),
            Seq(col("ts_us"), col("event_id")))
          .select(col("key"), col("value"), col("props"),
            col("schema_version"))
          .orderBy(col("key"))
      },
      Some(s"""WITH feed AS (
        |  SELECT CAST(user_id AS VARCHAR) AS key, event_id,
        |         epoch_us(ts) AS ts_us, value, props,
        |         CASE WHEN event_type = 'signup' THEN 'c'
        |              WHEN event_type = 'error'  THEN 'd'
        |              ELSE 'u' END AS op,
        |         CASE WHEN epoch_us(ts) < 1705276800000000 THEN 1
        |              WHEN epoch_us(ts) < 1705708800000000 THEN 2
        |              ELSE 3 END AS schema_version
        |  FROM events),
        | ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |            ORDER BY ts_us DESC, event_id DESC) AS rn
        |  FROM feed)
        |SELECT key,
        |       CASE WHEN schema_version = 3 THEN NULL ELSE value END
        |         AS value,
        |       CASE WHEN schema_version = 1 THEN NULL ELSE props END
        |         AS props,
        |       schema_version
        |FROM ranked WHERE rn = 1 AND op <> 'd'
        |ORDER BY key""".stripMargin)),

    // A1+A2 — latest non-deleted row per key (flagship; SURVEY §7.1 M0).
    Q("cdc_latest_state",
      (s, d) => Materialize.currentState(
        flatFeed(s, d), Seq("key"), Seq(col("ts_us"), col("event_id")))
        .select(col("key"), col("event_id").as("last_event_id"),
          col("op"), col("ts_us"), col("value"))
        .orderBy(col("key")),
      Some(s"""$feedCte,
        | ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |            ORDER BY ts_us DESC, event_id DESC) AS rn
        |  FROM feed)
        |SELECT key, event_id AS last_event_id, op, ts_us, value
        |FROM ranked WHERE rn = 1 AND op <> 'd'
        |ORDER BY key""".stripMargin)),

    // A3 — upsert a change batch into a materialized base (anti-join+union
    // ≡ replaying the whole log; the oracle is the full-log replay).
    Q("cdc_upsert_materialize",
      (s, d) => {
        val order = Seq(col("ts_us"), col("event_id"))
        val base = Materialize.currentState(
          flatFeedWindow(s, d, None, Some(cutoffUs)), Seq("key"), order)
          .select("key", "value", "props")
        val batch = Materialize.latest(
          flatFeedWindow(s, d, Some(cutoffUs), None), Seq("key"), order)
          .select("key", "op", "value", "props")
        Materialize.upsert(base, batch, Seq("key"))
          .orderBy(col("key"))
      },
      Some(materializedStateSql)),

    // S2∪S1 — initial snapshot (op=r rows at the cutoff) unioned with the
    // incremental feed, then materialized; ≡ full-log replay.
    Q("cdc_snapshot_plus_incremental",
      (s, d) => {
        val order = Seq(col("ts_us"), col("event_id"))
        val snapshot = Materialize.currentState(
          flatFeedWindow(s, d, None, Some(cutoffUs)), Seq("key"), order)
          .select(col("key"), lit(-1L).as("event_id"),
            lit(cutoffUs).as("ts_us"), col("value"), col("props"),
            lit("r").as("op"))
        val incremental = flatFeedWindow(s, d, Some(cutoffUs), None)
        Materialize.currentState(
          snapshot.unionByName(incremental), Seq("key"), order)
          .select("key", "value", "props")
          .orderBy(col("key"))
      },
      Some(materializedStateSql)),

    // TIME TRAVEL on the upsert sink (S4's offset-reset semantic on
    // the SINK side, the lake-format feature the reference's Hudi
    // downstream provides): three time-ordered micro-batches merge
    // into a fresh bucketed state, then the query reads the state AS
    // OF THE SECOND COMMIT via its manifest. Latest-wins convergence
    // makes that state identical to materializing only the first two
    // windows of the log — which is exactly what the oracle states,
    // knowing nothing of manifests, buckets, or commits.
    Q("cdc_time_travel",
      (s, d) => {
        import org.apache.hadoop.fs.Path
        import graft.streaming.CdcPipeline
        val statePath = QueryPack.scratch("tt_state", d)
        val fs = new Path(statePath).getFileSystem(
          s.sparkContext.hadoopConfiguration)
        fs.delete(new Path(statePath), true)
        val cfg = CdcPipeline.Config(keyCols = Seq("key"),
          orderCols = Seq("ts_us", "event_id"), opCol = "op",
          numBuckets = Some(8))
        CdcPipeline.mergeBatch(
          flatFeedWindow(s, d, None, Some(cutoffUs)), statePath, cfg, 0L)
        CdcPipeline.mergeBatch(
          flatFeedWindow(s, d, Some(cutoffUs), None), statePath, cfg, 1L)
        CdcPipeline.stateAsOf(s, statePath, 0L).get
          .select("key", "value", "props")
          .orderBy(col("key"))
      },
      Some(s"""$feedCte,
        | ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |            ORDER BY ts_us DESC, event_id DESC) AS rn
        |  FROM feed WHERE ts_us < 1705276800000000)
        |SELECT key, value, props
        |FROM ranked WHERE rn = 1 AND op <> 'd'
        |ORDER BY key""".stripMargin)),

    // STATE DIFF between two commits — what an incremental downstream
    // consumer reads instead of re-scanning state: keys added, removed
    // (tombstoned), or updated from the second commit to the third. A
    // row's version IS its order columns under latest-wins, so the
    // oracle states the diff as a full outer join of the two windowed
    // materializations comparing winning (ts_us, event_id).
    Q("cdc_state_diff",
      (s, d) => {
        import org.apache.hadoop.fs.Path
        import graft.streaming.CdcPipeline
        val statePath = QueryPack.scratch("diff_state", d)
        val fs = new Path(statePath).getFileSystem(
          s.sparkContext.hadoopConfiguration)
        fs.delete(new Path(statePath), true)
        val cfg = CdcPipeline.Config(keyCols = Seq("key"),
          orderCols = Seq("ts_us", "event_id"), opCol = "op",
          numBuckets = Some(8))
        CdcPipeline.mergeBatch(
          flatFeedWindow(s, d, None, Some(cutoffUs)), statePath, cfg, 0L)
        CdcPipeline.mergeBatch(
          flatFeedWindow(s, d, Some(cutoffUs), None), statePath, cfg, 1L)
        CdcPipeline.stateDiff(s, statePath, 0L, 1L, cfg)
          .orderBy(col("key"))
      },
      Some(s"""$feedCte,
        | ra AS (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |            ORDER BY ts_us DESC, event_id DESC) AS rn
        |  FROM feed WHERE ts_us < 1705276800000000),
        | rb AS (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |            ORDER BY ts_us DESC, event_id DESC) AS rn
        |  FROM feed),
        | a AS (SELECT key, ts_us, event_id FROM ra
        |       WHERE rn = 1 AND op <> 'd'),
        | b AS (SELECT key, ts_us, event_id FROM rb
        |       WHERE rn = 1 AND op <> 'd'),
        | j AS (
        |  SELECT coalesce(a.key, b.key) AS key,
        |    CASE WHEN a.key IS NULL THEN 'added'
        |         WHEN b.key IS NULL THEN 'removed'
        |         WHEN a.ts_us = b.ts_us AND a.event_id = b.event_id
        |           THEN NULL
        |         ELSE 'updated' END AS change,
        |    b.ts_us AS to_ts_us, b.event_id AS to_event_id
        |  FROM a FULL JOIN b ON a.key = b.key)
        |SELECT key, change, to_ts_us, to_event_id
        |FROM j WHERE change IS NOT NULL ORDER BY key""".stripMargin)),

    // POISON-PILL QUARANTINE — the decode-error path every real topic
    // eventually exercises: a deterministic slice of the wire records
    // is corrupted (truncated Avro bytes), the PERMISSIVE decode nulls
    // them instead of failing the task, and the pipeline surfaces the
    // quarantine list (op IS NULL ⇒ undecodable) for a dead-letter
    // store. The oracle knows nothing of Avro — only which event_ids
    // were corrupted — which is exactly the point: the quarantine set
    // equals the corruption set, bit for bit, and every healthy record
    // survives (asserted by the count column).
    Q("cdc_poison_pills",
      (s, d) => {
        import org.apache.spark.sql.types._
        val rowSchema = StructType(Seq(
          StructField("user_id", LongType),
          StructField("value", DoubleType),
          StructField("props", StringType)))
        val wire = graft.cdc.EnvelopeCodec.encodeAvro(
          ChangeFeed.envelope(Tables.events(s, d)),
          passthrough = Seq("event_id"))
        val corrupted = wire.withColumn("value",
          when(col("event_id") % 97 === 0,
            expr("substring(value, 1, 3)")).otherwise(col("value")))
        val decoded = graft.cdc.EnvelopeCodec.decodeAvro(
          corrupted, rowSchema, passthrough = Seq("event_id"),
          permissive = true)
        decoded
          .select(col("event_id"), col("op").isNull.as("quarantined"))
          .groupBy(col("quarantined"))
          .agg(count(lit(1)).as("n"),
            min(col("event_id")).as("min_event_id"),
            max(col("event_id")).as("max_event_id"))
          .orderBy(col("quarantined"))
      },
      Some("""SELECT event_id % 97 = 0 AS quarantined,
        |       count(*) AS n,
        |       min(event_id) AS min_event_id,
        |       max(event_id) AS max_event_id
        |FROM events GROUP BY 1 ORDER BY quarantined""".stripMargin)),

    // INCREMENTAL AGGREGATE MAINTENANCE — the CDC-consumer pattern that
    // avoids full recomputation: a materialized daily rollup (state,
    // pre-cutoff) merges with the new batch's partial aggregate (delta)
    // by pure partial-merge algebra — counts add, decimal sums add —
    // and the oracle asserts merged ≡ aggregating the whole history
    // from scratch. Works because count/sum are mergeable partials
    // (the same property Spark exploits map-side); deletes carry no
    // after-image so their value contribution is null on both sides.
    Q("pipeline_incremental_agg",
      (s, d) => {
        def part(df: DataFrame) = df
          .groupBy(expr("ts_us div 86400000000").as("day"), col("op"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).as("sv"))
        val state = part(flatFeedWindow(s, d, None, Some(cutoffUs)))
        val delta = part(flatFeedWindow(s, d, Some(cutoffUs), None))
        state.unionByName(delta)
          .groupBy(col("day"), col("op"))
          .agg(sum(col("n")).as("n_events"),
            sum(col("sv")).cast("double").as("sum_value"))
          .orderBy(col("day"), col("op"))
      },
      Some(s"""$feedCte
        |SELECT ts_us // 86400000000 AS day, op,
        |       count(*) AS n_events,
        |       CAST(sum(CASE WHEN op <> 'd'
        |                THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
        |         AS sum_value
        |FROM feed GROUP BY 1, 2 ORDER BY day, op""".stripMargin)),

    // A4/T3 — at-least-once redelivery collapsed by exact dedup: doubling
    // the feed then deduping yields the original event counts.
    Q("cdc_stream_dedup",
      (s, d) => {
        val feed = flatFeed(s, d)
        Materialize.dedupDeliveries(
          feed.unionAll(feed), Seq("key", "ts_us", "op", "event_id"))
          .groupBy(col("key"))
          .agg(count(lit(1)).as("n_events"))
          .orderBy(col("key"))
      },
      Some("""SELECT CAST(user_id AS VARCHAR) AS key,
        |       count(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY key""".stripMargin)),

    // COMPACTION, driver-verified: three commits merge into the
    // bucketed upsert store (tombstones included), then compact()
    // rewrites every live bucket, dropping ALL tombstones (horizon
    // beyond every event time) and merging small files — and the store
    // must still read back as EXACTLY the latest-wins materialization
    // of the full log, which is all the oracle states. Crash-safety of
    // the rewrite (never-reused dirs, one manifest write, re-sizing) is
    // CdcPipelineSpec's and CdcLayoutSpec's job; this row proves the
    // SEMANTICS survive the rewrite under the driver's independent eye.
    Q("cdc_compact_state",
      (s, d) => {
        import org.apache.hadoop.fs.Path
        import graft.streaming.CdcPipeline
        val statePath = QueryPack.scratch("compact_q_state", d)
        val fs = new Path(statePath).getFileSystem(
          s.sparkContext.hadoopConfiguration)
        fs.delete(new Path(statePath), true)
        val cfg = CdcPipeline.Config(keyCols = Seq("key"),
          orderCols = Seq("ts_us", "event_id"), opCol = "op",
          numBuckets = Some(8))
        CdcPipeline.mergeBatch(
          flatFeedWindow(s, d, None, Some(cutoffUs)), statePath, cfg, 0L)
        CdcPipeline.mergeBatch(
          flatFeedWindow(s, d, Some(cutoffUs), None), statePath, cfg, 1L)
        CdcPipeline.compact(s, statePath, cfg,
          horizonUs = Long.MaxValue, batchId = 2L)
        CdcPipeline.currentState(s, statePath).get
          .select("key", "value", "props")
          .orderBy(col("key"))
      },
      Some(materializedStateSql)),

    // THE STREAMING PIPELINE ITSELF, driver-verified: the change feed
    // becomes files in a stream-source directory, readStream picks
    // them up, the watermark + dropDuplicatesWithinWatermark dedup
    // runs, and foreachBatch merges micro-batches into the bucketed
    // upsert store — then the store must read back as EXACTLY the
    // batch latest-wins materialization. Everything between readStream
    // and the final read is the production streaming path (Structured
    // Streaming scheduler, checkpointing, commit protocol); only the
    // source is file-backed instead of Kafka (no broker in the
    // sandbox — SURVEY.md §7.2).
    Q("cdc_stream_pipeline",
      (s, d) => {
        import org.apache.hadoop.fs.Path
        import graft.streaming.CdcPipeline
        val base = QueryPack.scratch("stream_q", d)
        val fs = new Path(base).getFileSystem(
          s.sparkContext.hadoopConfiguration)
        fs.delete(new Path(base), true)
        val feed = flatFeed(s, d)
          .withColumn("ts", timestamp_micros(col("ts_us")))
        // few large source files: the stream pays per-file listing and
        // per-partition task overhead, not per-byte — same data
        feed.coalesce(4).write.mode("overwrite").parquet(s"$base/in")
        // child session for the stream: watermark-dedup state and the
        // checkpoint sync PER PARTITION — 8 partitions is the right
        // shape for one micro-batch of this size (the session default
        // 32 exists for the data-heavy batch queries); sql_entry_topk
        // precedent: per-query child-session config, parent untouched
        val s2 = QueryPack.streamSession(s, 8, s"$base/cp")
        val src = CdcPipeline.fileSource(s2, s"$base/in", feed.schema)
        CdcPipeline.start(src, s"$base/state", s"$base/cp")
          .awaitTermination()
        CdcPipeline.currentState(s, s"$base/state").get
          .select("key", "value", "props")
          .orderBy(col("key"))
      },
      Some(materializedStateSql)),

    // LIVE MID-STREAM SCHEMA EVOLUTION, driver-verified (r10 verdict
    // item 1): the binary-Avro wire arrives as time-ordered file
    // micro-batches whose WRITER SCHEMA CHANGES BETWEEN TRIGGERS — the
    // reference's acceptance script happening to a running pipeline
    // (/root/reference/README.md:453-480). v1 rows, then v2 = v1 +
    // nullable props (case 2: pass), then v3 = v2 − value (case 1:
    // pass), then a POISON batch under v4 = v3 + NOT NULL priority
    // (case 3): the registry gate must refuse v4 MID-STREAM, quarantine
    // its rows to the dead letter, and keep the query alive — the v4
    // rows are re-encodes of late events shifted 30 days ahead, so if
    // the gate ever leaked them the latest-wins state (and the hash)
    // would change. The oracle replays the consumer-visible outcome:
    // exactly the v1-v3 history, v4 invisible by construction.
    Q("cdc_stream_evolving",
      (s, d) => {
        import org.apache.hadoop.fs.Path
        import org.apache.spark.sql.Column
        import org.apache.spark.sql.types._
        import graft.cdc.{EnvelopeCodec, SchemaRegistry}
        import graft.streaming.CdcPipeline
        val subject = "osci.db.mysql-server-1.cdc_test_db.person-value"
        val v1 = StructType(Seq(
          StructField("user_id", LongType),
          StructField("value", DoubleType)))
        val v2 = StructType(v1.fields :+ StructField("props", StringType))
        val v3 = StructType(v2.fields.filterNot(_.name == "value"))
        val v4 = StructType(v3.fields :+
          StructField("priority", IntegerType, nullable = false))

        val base = QueryPack.scratch("stream_evo_q", d)
        val fs = new Path(base).getFileSystem(
          s.sparkContext.hadoopConfiguration)
        fs.delete(new Path(base), true)

        val feed = ChangeFeed.envelope(Tables.events(s, d))
        def narrow(c: String, fields: Seq[String]): Column =
          when(col(c).isNull, lit(null)).otherwise(
            struct(fields.map(f => col(s"$c.$f").as(f)): _*)).as(c)
        def wire(df: DataFrame, schema: StructType, v: Int): DataFrame =
          EnvelopeCodec.encodeAvro(
            df.withColumn("ts", timestamp_micros(col("ts_us")))
              .withColumn("schema_version", lit(v))
              .withColumn("schema_json", lit(schema.json)),
            passthrough = Seq("event_id", "ts", "schema_version",
              "schema_json"))
        // slices written IN TIME ORDER, one file each — each is (at
        // least) its own micro-batch, so the gate sees the schema
        // change live, between triggers. repartition(1), NOT
        // coalesce(1): the shuffle boundary keeps the envelope build +
        // Avro encode of each slice data-parallel; only the final
        // write of already-encoded bytes is the (required) single task
        // producing the one trigger file per writer-schema version
        wire(feed.filter(col("ts_us") < cutoffUs)
            .withColumn("before", narrow("before", v1.fieldNames.toSeq))
            .withColumn("after", narrow("after", v1.fieldNames.toSeq)),
          v1, 1).repartition(1).write.mode("append").parquet(s"$base/in")
        wire(feed.filter(col("ts_us") >= cutoffUs &&
              col("ts_us") < cutoff2Us)
            .withColumn("before", narrow("before", v2.fieldNames.toSeq))
            .withColumn("after", narrow("after", v2.fieldNames.toSeq)),
          v2, 2).repartition(1).write.mode("append").parquet(s"$base/in")
        wire(feed.filter(col("ts_us") >= cutoff2Us)
            .withColumn("before", narrow("before", v3.fieldNames.toSeq))
            .withColumn("after", narrow("after", v3.fieldNames.toSeq)),
          v3, 3).repartition(1).write.mode("append").parquet(s"$base/in")
        // the poison batch: late events re-encoded under v4, shifted a
        // month AHEAD with fresh event ids — they out-order every live
        // row, so a gate leak cannot hash-hide
        def v4Img(c: String): Column =
          when(col(c).isNull, lit(null)).otherwise(
            struct(col(s"$c.user_id").as("user_id"),
              col(s"$c.props").as("props"),
              lit(1).as("priority"))).as(c)
        wire(feed.filter(col("ts_us") >= cutoff2Us &&
              col("user_id") % 5 === 0)
            .withColumn("before", v4Img("before"))
            .withColumn("after", v4Img("after"))
            .withColumn("ts_us", col("ts_us") + 2592000000000L)
            .withColumn("event_id", col("event_id") + 10000000L),
          v4, 4).repartition(1).write.mode("append").parquet(s"$base/in")

        val wireSchema = StructType(Seq(
          StructField("key", StringType),
          StructField("value", BinaryType),
          StructField("topic", StringType),
          StructField("event_id", LongType),
          StructField("ts", TimestampType),
          StructField("schema_version", IntegerType),
          StructField("schema_json", StringType)))
        // stream parallelism ∝ wire volume (VERDICT r13 item 1: with
        // the encode parallelized, the residual was the streaming leg
        // itself at a FIXED 8 partitions — ~1.3M state rows per task
        // at sf10). One getContentSummary over the just-written slices
        // prices a ~64 MB/partition target, clamped to [8, 32]: sf0.01
        // keeps the checkpoint-sync-friendly 8, sf10 gets full-width
        // state shuffles. Result-invariant — state semantics don't
        // depend on partition count, and each run starts a fresh
        // checkpoint.
        val inBytes = fs.getContentSummary(new Path(s"$base/in")).getLength
        val parts = math.max(8, math.min(32,
          (inBytes / (64L << 20)).toInt + 1))
        val s2 = QueryPack.streamSession(s, parts, s"$base/cp")
        // maxFilesPerTrigger=1: one slice per micro-batch, forcing the
        // registry gate to run MID-STREAM on each writer change; the
        // large watermark delay makes the replay order-insensitive
        // (nothing is ever "late" in this bounded window)
        val src = CdcPipeline.fileSource(s2, s"$base/in", wireSchema,
          Map("maxFilesPerTrigger" -> "1"))
        val registry = new SchemaRegistry()
        CdcPipeline.startEvolvingAvro(src, s"$base/state", s"$base/cp",
          registry, subject, s"$base/dead",
          CdcPipeline.Config(numBuckets = Some(parts),
            watermarkDelay = "90 days")).awaitTermination()
        // the truth table, asserted on the LIVE outcome: three
        // registered versions (v4 refused), quarantine non-empty
        require(registry.history(subject).size == 3,
          "case 3 must be refused mid-stream")
        require(s.read.parquet(s"$base/dead/v4").count() > 0,
          "refused rows must be quarantined")
        CdcPipeline.currentState(s, s"$base/state").get
          .select(col("key"), col("value"), col("props"),
            col("schema_version"))
          .orderBy(col("key"))
      },
      Some(s"""WITH feed AS (
        |  SELECT CAST(user_id AS VARCHAR) AS key, event_id,
        |         epoch_us(ts) AS ts_us, value, props,
        |         CASE WHEN event_type = 'signup' THEN 'c'
        |              WHEN event_type = 'error'  THEN 'd'
        |              ELSE 'u' END AS op,
        |         CASE WHEN epoch_us(ts) < 1705276800000000 THEN 1
        |              WHEN epoch_us(ts) < 1705708800000000 THEN 2
        |              ELSE 3 END AS schema_version
        |  FROM events),
        | ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |            ORDER BY ts_us DESC, event_id DESC) AS rn
        |  FROM feed)
        |SELECT key,
        |       CASE WHEN schema_version = 3 THEN NULL ELSE value END
        |         AS value,
        |       CASE WHEN schema_version = 1 THEN NULL ELSE props END
        |         AS props,
        |       schema_version
        |FROM ranked WHERE rn = 1 AND op <> 'd'
        |ORDER BY key""".stripMargin)),

    // STREAM-STATIC ENRICHMENT, driver-verified: the change stream
    // joins a STATIC dimension inside the streaming query (Structured
    // Streaming's stream-static join — the dim is re-read per
    // micro-batch, no state kept for it), then aggregates per segment
    // via foreachBatch into a result table. The enriched rollup must
    // equal the batch join. This is the third streaming path under the
    // driver's oracle: sink merge (cdc_stream_pipeline), state-store
    // operator (cdc_stream_stateful), and now dimension enrichment.
    Q("cdc_stream_enrich",
      (s, d) => {
        import org.apache.hadoop.fs.Path
        val base = QueryPack.scratch("enrich_q", d)
        val fs = new Path(base).getFileSystem(
          s.sparkContext.hadoopConfiguration)
        fs.delete(new Path(base), true)
        val feed = flatFeed(s, d)
        feed.coalesce(4).write.mode("overwrite").parquet(s"$base/in")
        // static dim: customer keyed like the feed (stringified id)
        val dim = Tables.customer(s, d)
          .select(col("c_custkey").cast("string").as("key"),
            col("c_mktsegment").as("segment"))
        val s2 = QueryPack.streamSession(s, 8, s"$base/cp")
        val src = CdcPipeline.fileSource(s2, s"$base/in", feed.schema)
        val dim2 = s2.read.parquet(
          { dim.write.mode("overwrite").parquet(s"$base/dim"); s"$base/dim" })
        val q = src.join(broadcast(dim2), Seq("key"))
          .writeStream
          .option("checkpointLocation", s"$base/cp")
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
                           _: Long) =>
            batch.write.mode("append").parquet(s"$base/out")
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        s.read.parquet(s"$base/out")
          .groupBy(col("segment"))
          .agg(count(lit(1)).as("n_changes"),
            countDistinct(col("key")).as("n_keys"),
            sum(col("value").cast("decimal(18,2)")).cast("double")
              .as("total_value"))
          .orderBy(col("segment"))
      },
      Some(s"""$feedCte
        |-- delete events carry no after-image (value NULL in the
        |-- envelope), so the rollup sums non-delete changes only
        |SELECT c.c_mktsegment AS segment, count(*) AS n_changes,
        |  count(DISTINCT f.key) AS n_keys,
        |  CAST(sum(CASE WHEN f.op <> 'd'
        |           THEN CAST(f.value AS DECIMAL(18,2)) END) AS DOUBLE)
        |    AS total_value
        |FROM feed f JOIN customer c
        |  ON f.key = CAST(c.c_custkey AS VARCHAR)
        |GROUP BY 1 ORDER BY segment""".stripMargin)),

    // MULTI-TABLE FAN-OUT, driver-verified: the reference's connector
    // captures N tables per connector and routes topic-per-table
    // (database.include.list, /root/reference/bin/mskc-connector.sh:406;
    // routing README.md:436) — here ONE streaming query demultiplexes
    // the topic column into one bucketed state store PER TABLE inside a
    // single foreachBatch. Two tables with DIFFERENT schemas share the
    // stream (users: value/props; orders: amount only); each store must
    // read back as the per-table batch latest-wins materialization —
    // which is all the oracle states, per table, unioned. Every table's
    // slice also passes the registry schema gate before its merge.
    Q("cdc_multi_table_pipeline",
      (s, d) => {
        import org.apache.hadoop.fs.Path
        import graft.streaming.CdcPipeline
        val base = QueryPack.scratch("multitable_q", d)
        val fs = new Path(base).getFileSystem(
          s.sparkContext.hadoopConfiguration)
        fs.delete(new Path(base), true)
        val users = "osci.db.srv1.cdc_test_db.users"
        val orders = "osci.db.srv1.cdc_test_db.orders"
        // mixed feed: routed topic-per-table, union schema (orders
        // carries amount, a decimal-exact cents rescale; users carries
        // value/props) — exactly what one connector's N tables look
        // like on the wire
        val mixed = flatFeed(s, d)
          .withColumn("topic",
            when(pmod(col("key").cast("long"), lit(2)) === 0, users)
              .otherwise(orders))
          .withColumn("amount",
            when(col("topic") === orders,
              (col("value").cast("decimal(18,2)") * 100).cast("long")))
          .withColumn("ts", timestamp_micros(col("ts_us")))
        mixed.coalesce(4).write.mode("overwrite").parquet(s"$base/in")
        val s2 = QueryPack.streamSession(s, 8, s"$base/cp")
        val src = CdcPipeline.fileSource(s2, s"$base/in", mixed.schema)
        val common = Seq("key", "event_id", "ts_us", "op")
        CdcPipeline.startMultiTable(src, s"$base/st", s"$base/cp",
          tables = Map(users -> (common ++ Seq("value", "props")),
            orders -> (common :+ "amount")),
          registry = Some(new graft.cdc.SchemaRegistry()))
          .awaitTermination()
        def st(topic: String, tag: String) =
          CdcPipeline.currentState(s,
            CdcPipeline.tablePath(s"$base/st", topic)).get
            .withColumn("table_name", lit(tag))
        st(users, "users").unionByName(st(orders, "orders"),
            allowMissingColumns = true)
          .select(col("table_name"), col("key"), col("value"),
            col("props"), col("amount"))
          .orderBy(col("table_name"), col("key"))
      },
      Some(s"""$feedCte,
        | routed AS (
        |  SELECT *, CASE WHEN CAST(key AS BIGINT) % 2 = 0
        |                 THEN 'users' ELSE 'orders' END AS table_name
        |  FROM feed),
        | ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY table_name, key
        |            ORDER BY ts_us DESC, event_id DESC) AS rn
        |  FROM routed)
        |SELECT table_name, key,
        |  CASE WHEN table_name = 'users' THEN value END AS value,
        |  CASE WHEN table_name = 'users' THEN props END AS props,
        |  CASE WHEN table_name = 'orders'
        |       THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |  END AS amount
        |FROM ranked WHERE rn = 1 AND op <> 'd'
        |ORDER BY table_name, key""".stripMargin)),

    // ARBITRARY STATEFUL STREAMING (flatMapGroupsWithState), driver-
    // verified: the change feed streams through StatefulLatest — one
    // latest-image per key in Spark's state store, a row EMITTED only
    // when a key's state changes (the changelog-of-the-changelog a
    // downstream cache consumes). The memory-sink updates, reduced
    // latest-wins and tombstone-filtered, must equal the batch
    // materialization. Complements cdc_stream_pipeline: that query
    // proves the SINK path; this one proves the state-store OPERATOR
    // path on the same oracle.
    Q("cdc_stream_stateful",
      (s, d) => {
        import org.apache.hadoop.fs.Path
        import graft.streaming.StatefulLatest
        val base = QueryPack.scratch("stateful_q", d)
        val fs = new Path(base).getFileSystem(
          s.sparkContext.hadoopConfiguration)
        fs.delete(new Path(base), true)
        flatFeed(s, d).write.mode("overwrite").parquet(s"$base/in")
        val mem = "graft_stateful_q_mem"
        s.catalog.dropTempView(mem)
        StatefulLatest.replayToMemory(s, s"$base/in", mem, s"$base/cp")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("key"))
          .orderBy(col("ts_us").desc, col("event_id").desc)
        s.table(mem)
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1 && !col("deleted"))
          .select(col("key"), col("value"), col("props"))
          .orderBy(col("key"))
      },
      Some(materializedStateSql)),

    // SCD TYPE-2 DIMENSION from the change feed — the other canonical
    // CDC consumer besides latest-state: every non-delete change
    // becomes a version row valid [its ts, next change's ts); a delete
    // closes the interval it tombstones without emitting a version.
    // One key-shuffle, one window pass (lead + row_number share the
    // sort) — the same plan shape as cdc_latest_state, so the 100 TB
    // story is identical: partition by key, no global sort.
    Q("cdc_scd2_history",
      (s, d) => Materialize.scd2(flatFeed(s, d), Seq("key"),
          Seq(col("ts_us"), col("event_id")))
        .select(col("key"), col("change_seq"), col("value"), col("props"),
          col("valid_from_us"), col("valid_to_us"), col("is_current"))
        .orderBy(col("key"), col("change_seq")),
      Some(s"""$feedCte,
        | seq AS (
        |  SELECT key, value, props, op, ts_us AS valid_from_us,
        |    lead(ts_us) OVER (PARTITION BY key
        |                      ORDER BY ts_us, event_id) AS valid_to_us,
        |    row_number() OVER (PARTITION BY key
        |                       ORDER BY ts_us, event_id) AS change_seq
        |  FROM feed)
        |SELECT key, change_seq, value, props, valid_from_us, valid_to_us,
        |  valid_to_us IS NULL AS is_current
        |FROM seq WHERE op IS DISTINCT FROM 'd'
        |ORDER BY key, change_seq""".stripMargin)),

    // POINT-IN-TIME LOOKUP against the SCD2 dimension: the state of
    // every key as of the snapshot cutoff, read from version intervals
    // (valid_from ≤ t < valid_to) instead of replaying the log — the
    // query pattern SCD2 exists to serve, and it must agree with the
    // log-replay materialization restricted to the same cutoff (minus
    // keys whose latest pre-cutoff change was a delete). The interval
    // predicate is two pushable range filters, no window at read time.
    Q("cdc_scd2_as_of",
      (s, d) => Materialize.scd2(flatFeed(s, d), Seq("key"),
          Seq(col("ts_us"), col("event_id")))
        .filter(col("valid_from_us") <= cutoffUs &&
          (col("valid_to_us").isNull || col("valid_to_us") > cutoffUs))
        .select(col("key"), col("value"), col("props"))
        .orderBy(col("key")),
      Some(s"""$feedCte,
        | ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |            ORDER BY ts_us DESC, event_id DESC) AS rn
        |  FROM feed WHERE ts_us <= $cutoffUs)
        |SELECT key, value, props
        |FROM ranked WHERE rn = 1 AND op IS DISTINCT FROM 'd'
        |ORDER BY key""".stripMargin))
  )
}
