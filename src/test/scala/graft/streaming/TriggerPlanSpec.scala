package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.cdc.{EnvelopeCodec, SchemaRegistry}
import graft.obs.Trace
import graft.ops.CdcQueries

/** How one CDC trigger runs on the cluster: the merge write's physical
  * shape, and how often a micro-batch's stateful dedup executes.
  */
class TriggerPlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def feed: DataFrame =
    CdcQueries.flatFeed(spark, sf)
      .withColumn("ts", timestamp_micros(col("ts_us")))

  /** Executed plans of the store writes `f` runs (writes under a
    * `batches/` dir).
    */
  private def storeWrites(f: => Unit): Seq[SparkPlan] =
    Trace.of(spark)(f).queries.flatMap(qe =>
      collectFirst(qe.executedPlan) {
        case w: DataWritingCommandExec
            if w.cmd.toString.contains("/batches/") => w
      })

  test("the merge write shuffles once and sorts once, below its " +
       "aggregate: no exchange for the aggregate, no sort for the write") {
    val f = feed.drop("ts")
    val cfg = CdcPipeline.Config()
    Seq("true", "false").foreach { aqe =>
      val prev = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      try {
        val state = Files.createTempDirectory("mergeplan").toString
        // a fresh store, then a merge that reads state back
        val plans = storeWrites(
          CdcPipeline.mergeBatch(f.filter(col("event_id") % 2 === 0),
            state, cfg, 0L)) ++
          storeWrites(CdcPipeline.mergeBatch(f, state, cfg, 1L))
        assert(plans.size === 2, s"aqe=$aqe")
        plans.foreach { p =>
          val exchanges = collect(p) { case e: ShuffleExchangeExec => e }
          val sorts = collect(p) { case s: SortExec => s }
          assert(exchanges.size === 1, s"aqe=$aqe\n$p")
          assert(sorts.size === 1, s"aqe=$aqe\n$p")
        }
        // the fresh store's batch is latest-per-key already: no
        // aggregate, the writer's sort is the one sort
        assert(collect(plans.head) { case a: BaseAggregateExec => a }
          .isEmpty, s"aqe=$aqe\n${plans.head}")
        // the merge's one sort feeds its aggregate: none sits above it
        val aggs = collect(plans(1)) { case a: BaseAggregateExec => a }
        assert(aggs.nonEmpty && collect(aggs.head) {
          case s: SortExec => s }.size === 1, s"aqe=$aqe\n${plans(1)}")
        // and the state it wrote is the latest-wins replay
        val got = CdcPipeline.currentState(spark, state).get
        val want = graft.cdc.Materialize.currentState(f, Seq("key"),
          Seq(col("ts_us"), col("event_id")))
        assert(got.count() === want.count())
        assert(got.select("key", "value", "props", "event_id")
          .except(want.select("key", "value", "props", "event_id")).isEmpty)
      } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    }
  }

  /** Stages that ran the stateful dedup while `f` runs. A stage whose
    * lineage holds the state store runs it unless it reads a persisted
    * RDD an earlier stage already filled: the stage that fills a cache
    * runs the dedup, the stages reading that cache do not. (Every
    * action on a foreachBatch micro-batch reuses one RDD, so counting
    * distinct state-store RDDs would not see a second run.)
    */
  private def stateStoreRuns(f: => StreamingQuery): (Int, StreamingQuery) = {
    var q: StreamingQuery = null
    val stages = Trace.of(spark) { q = f; q.awaitTermination() }.stages
    val filled = scala.collection.mutable.Set.empty[Int]
    val runs = stages.count { s =>
      val cached = s.rddInfos.filter(_.storageLevel.isValid).map(_.id)
      val ran = s.rddInfos.exists(_.name == "StateStoreRDD") &&
        (cached.isEmpty || !cached.forall(filled))
      filled ++= cached
      ran
    }
    (runs, q)
  }

  /** Every batch the query ran, data or no-data. */
  private def batches(q: StreamingQuery): Int =
    q.recentProgress.map(_.batchId).distinct.length

  test("demuxBatch runs the stateful dedup once per micro-batch") {
    val base = Files.createTempDirectory("demuxstages").toString
    val users = "db.users"
    val mixed = feed.withColumn("topic",
      when(pmod(col("key").cast("long"), lit(2)) === 0, users)
        .otherwise("db.orders"))
    (0 until 3).foreach { i =>
      mixed.filter(pmod(col("event_id"), lit(3)) === i).coalesce(1)
        .write.mode("append").parquet(s"$base/in")
      Thread.sleep(20)
    }
    val (runs, q) = stateStoreRuns(CdcPipeline.startMultiTable(
      CdcPipeline.fileSource(spark, s"$base/in", mixed.schema,
        Map("maxFilesPerTrigger" -> "1")),
      s"$base/st", s"$base/cp",
      tables = Map(users -> Seq("key", "event_id", "ts_us", "op", "value"))))
    assert(q.recentProgress.count(_.numInputRows > 0) === 3)
    assert(runs === batches(q))
  }

  test("evolvingMergeBatch runs the stateful dedup once per micro-batch") {
    val base = Files.createTempDirectory("evostages").toString
    val writer = StructType(Seq(StructField("name", StringType),
      StructField("age", IntegerType)))
    (0 until 3).foreach { i =>
      val rows = (0 until 20).map(k =>
        Row(s"k${k % 7}", k + i, (i * 100 + k).toLong,
          1705276800000000L + (i * 100 + k) * 1000000L, "u"))
      val df = spark.createDataFrame(rows.asJava, StructType(writer.fields ++
        Seq(StructField("event_id", LongType), StructField("ts_us", LongType),
          StructField("op", StringType))))
      EnvelopeCodec.encodeAvro(df.select(col("name").as("key"),
          lit(null).cast(writer).as("before"),
          struct(col("name"), col("age")).as("after"),
          struct(lit("db").as("db"), lit("t").as("table"),
            lit(1L).as("server_id"), col("ts_us").as("ts_us")).as("source"),
          col("op"), col("ts_us"), lit("db.t").as("topic"), col("event_id"),
          timestamp_micros(col("ts_us")).as("ts"),
          lit(1).as("schema_version"), lit(writer.json).as("schema_json")),
        passthrough = Seq("event_id", "ts", "schema_version", "schema_json"))
        .coalesce(1).write.mode("append").parquet(s"$base/in")
      Thread.sleep(20)
    }
    val wire = spark.read.parquet(s"$base/in")
    val (runs, q) = stateStoreRuns(CdcPipeline.startEvolvingAvro(
      CdcPipeline.fileSource(spark, s"$base/in", wire.schema,
        Map("maxFilesPerTrigger" -> "1")),
      s"$base/state", s"$base/cp", new SchemaRegistry(), "db.t-value",
      s"$base/dead"))
    assert(q.recentProgress.count(_.numInputRows > 0) === 3)
    assert(runs === batches(q))
    assert(CdcPipeline.currentState(spark, s"$base/state").get.count() === 7)
  }
}
