package graft.cdc

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.CdcQueries
import graft.sources.Tables

class MaterializeSpec extends SparkSpec {

  private def feed = CdcQueries.flatFeed(spark, sf)

  test("envelope covers every event exactly once with valid ops") {
    val env = ChangeFeed.envelope(Tables.events(spark, sf))
    val nEvents = Tables.events(spark, sf).count()
    assert(env.count() === nEvents)
    val ops = env.select("op").distinct().collect().map(_.getString(0)).toSet
    assert(ops.subsetOf(Set("c", "u", "d")))
    // Debezium contract: before is null for creates, after null for deletes.
    assert(env.filter(col("op") === "c" && col("before").isNotNull).count() === 0)
    assert(env.filter(col("op") === "d" && col("after").isNotNull).count() === 0)
    assert(env.filter(col("op") =!= "d" && col("after").isNull).count() === 0)
  }

  test("latest picks exactly one row per key, the max (ts, event_id)") {
    val l = Materialize.latest(feed, Seq("key"),
      Seq(col("ts_us"), col("event_id")))
    assert(l.count() === feed.select("key").distinct().count())
    val manual = feed.groupBy("key")
      .agg(max(struct(col("ts_us"), col("event_id"))).as("m"))
      .select(col("key"), col("m.event_id").as("event_id"))
    val mismatch = l.select("key", "event_id")
      .except(manual.select("key", "event_id"))
    assert(mismatch.count() === 0)
  }

  test("currentState drops keys whose latest op is a delete") {
    val state = Materialize.currentState(feed, Seq("key"),
      Seq(col("ts_us"), col("event_id")))
    assert(state.filter(col("op") === "d").count() === 0)
    val latestAll = Materialize.latest(feed, Seq("key"),
      Seq(col("ts_us"), col("event_id")))
    assert(state.count() === latestAll.filter(col("op") =!= "d").count())
  }

  test("upsert(base@cutoff, batch) equals replaying the whole log") {
    val full = Materialize.currentState(feed, Seq("key"),
      Seq(col("ts_us"), col("event_id"))).select("key", "value", "props")
    val viaUpsert = graft.SparkEntry.queries("cdc_upsert_materialize")(spark, sf)
    assert(viaUpsert.select("key", "value", "props").except(full).count() === 0)
    assert(full.except(viaUpsert.select("key", "value", "props")).count() === 0)
  }

  test("dedup collapses duplicate deliveries exactly") {
    val doubled = feed.unionAll(feed)
    val deduped = Materialize.dedupDeliveries(doubled,
      Seq("key", "ts_us", "op", "event_id"))
    assert(deduped.count() === feed.count())
  }

  test("entry returns rows") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }

  test("latest (max_by aggregate) is row-identical to the window " +
       "row_number form, null order values ranking lowest") {
    import org.apache.spark.sql.expressions.Window
    // a key with a NULL ts beside a non-null one, and a key whose every
    // ts is null (tiebreak decides) — the edges where desc NULLS LAST
    // and struct-ordering must agree
    val edge = spark.createDataFrame(Seq(
      ("a", Option(10L), 1L, "old"), ("a", Option(20L), 2L, "new"),
      ("b", Option.empty[Long], 3L, "nullts"), ("b", Option(5L), 4L, "real"),
      ("c", Option.empty[Long], 5L, "n1"), ("c", Option.empty[Long], 6L, "n2")
    )).toDF("key", "ts_us", "event_id", "value")
    // a DOUBLE key: Spark groups -0.0 with 0.0 and every NaN with
    // every other, and the winner must keep its own key bits, as the
    // window's row does (the group {0.0, -0.0} is won by -0.0, the NaN
    // group by a non-canonical NaN)
    val oddNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000001L)
    val dbl = spark.createDataFrame(Seq(
      (0.0, Option(1L), 1L, "zero"), (-0.0, Option(2L), 2L, "negzero"),
      (Double.NaN, Option(1L), 3L, "nan"), (oddNaN, Option(2L), 4L, "odd"),
      (1.5, Option.empty[Long], 5L, "plain")
    )).toDF("key", "ts_us", "event_id", "value")
    /** Rows with doubles as their raw bits: equality `except` cannot
      * see (it equates -0.0 with 0.0 and NaNs with each other).
      */
    def bits(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.map {
        case d: Double => java.lang.Double.doubleToRawLongBits(d).toString
        case v => String.valueOf(v)
      }.mkString("|")).toSeq.sorted
    val inputs =
      Seq(feed.select("key", "ts_us", "event_id", "value"), edge, dbl)
    inputs.foreach { df =>
      val viaAgg = Materialize.latest(df, Seq("key"),
        Seq(col("ts_us"), col("event_id")))
      val w = Window.partitionBy(col("key"))
        .orderBy(col("ts_us").desc, col("event_id").desc)
      val viaWindow = df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
      assert(viaAgg.columns.toSeq === df.columns.toSeq)
      assert(viaAgg.except(viaWindow).count() === 0)
      assert(viaWindow.except(viaAgg).count() === 0)
      assert(bits(viaAgg) === bits(viaWindow))
    }
    assert(bits(Materialize.latest(dbl, Seq("key"),
      Seq(col("ts_us"), col("event_id"))).select("value")) ===
      Seq("negzero", "odd", "plain"))
  }

  test("latest passes input columns named like its internal aggregate " +
       "(__latest, __LATEST_) through unchanged") {
    import spark.implicits._
    val in = Seq(("a", 1L, "x", "p"), ("a", 2L, "y", "q"), ("b", 1L, "z", "r"))
      .toDF("key", "ts", "__latest", "__LATEST_")
    val out = Materialize.latest(in, Seq("key"), Seq(col("ts")))
    assert(out.columns.toSeq === in.columns.toSeq)
    assert(out.orderBy("key").collect().map(_.toSeq).toSeq ===
      Seq(Seq("a", 2L, "y", "q"), Seq("b", 1L, "z", "r")))
    // as a KEY column, a fixed aggregate name would be ambiguous with it
    val keyed = Materialize.latest(in.drop("key"), Seq("__latest"),
      Seq(col("ts")))
    assert(keyed.orderBy("__latest").collect().map(_.toSeq).toSeq ===
      Seq(Seq(1L, "x", "p"), Seq(2L, "y", "q"), Seq(1L, "z", "r")))
  }
}
