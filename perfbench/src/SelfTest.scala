package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Tests of the benchmark's own logic: the tail rule, thread CPU deltas,
  * freshness from a file-source log and a progress stream, seed
  * determinism of the generators, the oracle comparison and the metric
  * list. Run with `python3 perfbench/run.py --self-test`; exits non-zero
  * on a failure.
  */
object SelfTest {

  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") } catch {
      case e: Throwable => failures += 1; println(s"FAIL $name: $e")
    }

  private def eq[T](got: T, want: T): Unit =
    if (got != want) throw new AssertionError(s"got $got, want $want")

  def main(args: Array[String]): Unit = {
    test("tail: ten samples beyond the reported percentile") {
      val t = Stats.tail((1 to 100).map(_.toDouble).reverse)
      eq(t, Stats.Tail(90.0, 90.0, 10, 100))
      eq((1 to 100).count(_ > t.value), 10)
      eq(Stats.tail((1 to 20).map(_.toDouble)), Stats.Tail(10.0, 50.0, 10, 20))
    }
    test("tail: below twenty samples the maximum, marked p100") {
      eq(Stats.tail(Seq(3.0, 1.0, 2.0)), Stats.Tail(3.0, 100.0, 0, 3))
      eq(Stats.tail((1 to 19).map(_.toDouble)).pct, 100.0)
    }
    test("median of odd and even counts") {
      eq(Stats.median(Seq(5.0, 1.0, 3.0)), 3.0)
      eq(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5)
    }
    test("covered: union of overlapping intervals, clipped") {
      eq(Stats.covered(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0)), 0.5, 5.5), 3.0)
      eq(Stats.covered(Nil, 0.0, 1.0), 0.0)
    }
    test("thread CPU: new threads count in full, ended ones drop out") {
      eq(Cpu.seconds(Map(1L -> 10L, 2L -> 5L), Map(1L -> 30L, 3L -> 7L)), 27e-9)
      val busy = Cpu.snapshot()
      var x = 0L
      (1 to 20000000).foreach(i => x += i % 7)
      if (x < 0 || Cpu.seconds(busy, Cpu.snapshot()) <= 0)
        throw new AssertionError("a busy loop took no CPU")
    }
    test("freshness from a synthetic file-source log and progress stream") {
      // source log: entries carry the source's own offset, not the query's
      // batch id; the offset log maps query batches to source offsets
      val src1 = "v1\n" +
        """{"path":"file:///w/src/f000001.parquet","timestamp":1,"batchId":1}""" + "\n" +
        """{"path":"file:///w/src/f000002.parquet","timestamp":1,"batchId":1}"""
      val compact = "v1\n" +
        """{"path":"file:///w/src/f000000.parquet","timestamp":1,"batchId":0}""" + "\n" +
        """{"path":"file:///w/src/f000003.parquet","timestamp":1,"batchId":2}"""
      def offsets(k: Long) = "v1\n" +
        """{"batchWatermarkMs":0,"batchTimestampMs":1,"conf":{}}""" + "\n" +
        s"""{"logOffset":$k}"""
      val entries = Stats.fileSourceEntries(src1) ++ Stats.fileSourceEntries(compact)
      eq(entries.toMap, Map("f000000.parquet" -> 0L, "f000001.parquet" -> 1L,
        "f000002.parquet" -> 1L, "f000003.parquet" -> 2L))
      // batch 1 is a no-data batch: it ends at the same offset as batch 0
      val ends = Seq(0L -> 0L, 1L -> 0L, 2L -> 1L, 3L -> 2L).map { case (n, k) =>
        n -> Stats.logOffset(offsets(k)).get }
      val fileBatch = Stats.fileBatches(entries, ends)
      eq(fileBatch, Map("f000000.parquet" -> 0L, "f000001.parquet" -> 2L,
        "f000002.parquet" -> 2L, "f000003.parquet" -> 3L))
      val arrivals = Map("f000001.parquet" -> 1000L, "f000002.parquet" -> 1100L,
        "f000003.parquet" -> 1200L, "f000004.parquet" -> 1300L)
      // trigger ends: start + triggerExecution, as the listener gives them
      val trig = Map(2L -> (1050L + 200L), 3L -> (1300L + 150L))
      eq(Stats.freshness(arrivals, fileBatch, trig), Seq(0.25, 0.15, 0.25))
      eq(Stats.maxBacklog(Seq(1000L -> 100L, 1100L -> 100L, 1200L -> 100L),
        Seq(1250L -> 200L, 1450L -> 100L)), 300L)
    }

    test("BENCHMARK.json lists exactly the per-layer metrics the run reports") {
      val spec = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File("BENCHMARK.json"))
      val listed = spec.get("per_layer").elements().asScala
        .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
      eq(listed.toMap, Layers.All.toMap)
    }

    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      test("generators are deterministic in the seed") {
        def h(seed: Long) = Gen.combine(Seq(
          "ev" -> Gen.frameHash(Gen.events(spark, seed, 1000, 5, 50, 100000L,
            2000000L, 0.05, 0.05)),
          "docs" -> Gen.frameHash(Gen.corpusDocs(spark, seed, 0, 200, 12, 50)),
          "wire" -> Gen.frameHash(Gen.encodeWire(Gen.wireLog(spark, seed,
            100, 2, 300, 0.05, 0.1, 10)).drop("schema_json"))))
        eq(h(7), h(7))
        if (h(7) == h(8)) throw new AssertionError("seeds 7 and 8 collide")
      }
      test("the Avro wire decodes back to the generated log") {
        val log = Gen.wireLog(spark, 3, 100, 2, 200, 0.05, 0.1, 10)
          .filter(col("schema_version") === 2 && col("op") =!= "d")
        val dec = graft.cdc.EnvelopeCodec.decodeAvro(Gen.encodeWire(log),
          Gen.rowV2, passthrough = Seq("event_id"))
          .select(col("key"), col("event_id"), col("ts_us"), col("op"),
            col("after.name"), col("after.amount"), col("after.status"),
            col("after.note"))
        val want = log.select("key", "event_id", "ts_us", "op", "name",
          "amount", "status", "note")
        eq(want.exceptAll(dec).count() + dec.exceptAll(want).count(), 0L)
      }
      test("oracle: replay equals itself, a perturbed state fails") {
        val log = Gen.events(spark, 5, 200, 4, 100, 100000L, 2000000L, 0.2, 0.1)
          .drop("g", "ts")
        val cols = CdcWorkloads.FlatCols
        val want = Oracles.latestWins(spark, log, cols).cache()
        eq(Oracles.mismatch(want, want, cols), (0L, 0L))
        val k = want.select("key").head().getLong(0)
        val perturbed = want.withColumn("amount",
          when(col("key") === k, col("amount") + 1).otherwise(col("amount")))
        eq(Oracles.mismatch(want, perturbed, cols), (1L, 1L))
        eq(Oracles.mismatch(want, want.filter(col("key") =!= k), cols), (1L, 0L))
        // a delete as the latest event removes the key
        val deleted = log.groupBy("key").agg(max("ts_us").as("m"))
          .join(log, "key").filter(col("ts_us") === col("m") && col("op") === "d")
          .select("key").distinct().count()
        eq(want.count(), log.select("key").distinct().count() - deleted)
      }
      test("brute-force Jaccard finds exactly the pairs over the threshold") {
        val a = (1 to 30).map(i => s"t$i").mkString(" ")
        val b = a.replace("t15", "zz")
        val c = (1 to 30).map(i => s"u$i").mkString(" ")
        val got = Oracles.bruteForceJaccard(Seq(1L -> a, 2L -> c),
          Seq(10L -> b, 11L -> c), 0.8)
        eq(got, Set(1L -> 10L, 2L -> 11L))
        eq(Oracles.shingles("a b c d"), Set("a b c", "b c d"))
      }
    } finally spark.stop()
    println(if (failures == 0) "all self-tests passed" else s"$failures self-test(s) failed")
    System.exit(if (failures == 0) 0 else 1)
  }
}
