package graft.streaming

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.cdc.{EnvelopeCodec, SchemaRegistry}
import graft.ops.CdcQueries

/** How one CDC trigger runs on the cluster: the merge write's physical
  * shape, and how often a micro-batch's stateful dedup executes.
  */
class TriggerPlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def feed: DataFrame =
    CdcQueries.flatFeed(spark, sf)
      .withColumn("ts", timestamp_micros(col("ts_us")))

  /** Executed plans of the store writes `f` runs (writes under a
    * `batches/` dir), as the listener bus delivers them.
    */
  private def storeWrites(f: => Unit): Seq[SparkPlan] = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val l = new QueryExecutionListener {
      def onSuccess(fn: String, qe: QueryExecution, d: Long): Unit =
        collectFirst(qe.executedPlan) {
          case w: DataWritingCommandExec
              if w.cmd.toString.contains("/batches/") => w
        }.foreach(plans.add)
      def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val before = plans.size
      f
      val deadline = System.currentTimeMillis() + 10000
      while (plans.size == before && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      Thread.sleep(200)
    } finally spark.listenerManager.unregister(l)
    plans.asScala.toSeq
  }

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
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val filled = scala.collection.mutable.Set.empty[Int]
    val l = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        filled.synchronized {
          val rdds = e.stageInfo.rddInfos
          val cached = rdds.filter(_.storageLevel.isValid).map(_.id)
          if (rdds.exists(_.name == "StateStoreRDD") &&
              (cached.isEmpty || !cached.forall(filled)))
            n.incrementAndGet()
          filled ++= cached
        }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val q = f
      q.awaitTermination()
      Thread.sleep(500)
      (n.get, q)
    } finally spark.sparkContext.removeSparkListener(l)
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
