package graft.streaming

import java.net.URI
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.execution.streaming.runtime.FileStreamSourceLog
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CdcFeedSource
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec

/** The local FS under its own scheme, counting directory listings. */
class ListCountingFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("cntfs:///")
  override def listStatus(p: Path): Array[FileStatus] = {
    ListCountingFs.calls.incrementAndGet()
    super.listStatus(p)
  }
}

object ListCountingFs {
  val calls = new AtomicLong()
}

/** [[CdcPipeline.fileSource]]'s source: Spark's file-source semantics
  * (each visible file read once, in modification-time order, at most
  * `maxFilesPerTrigger` a batch, `AvailableNow` bounded by the files
  * present at start), checkpoints interchangeable with Spark's own file
  * source, one listing per poll, its telemetry, and its refusals.
  */
class FeedSourceSpec extends SparkSpec {

  private val T0 = 1705276800000000L

  private def feedOf(evs: Seq[LayoutEv]): DataFrame = {
    import spark.implicits._
    evs.toDF().withColumn("ts", timestamp_micros(col("ts_us")))
  }

  private lazy val schema = feedOf(Seq(LayoutEv("k", 0L, T0, "c", 0L))).schema

  /** Land `evs` as ONE parquet file `dir/name` with mtime `mtimeMs`:
    * written aside, then renamed in, as a producer would.
    */
  private def land(dir: String, name: String, evs: Seq[LayoutEv],
                   mtimeMs: Long): Unit = {
    val tmp = Files.createTempDirectory("feedfile").toString + "/d"
    feedOf(evs).coalesce(1).write.parquet(tmp)
    val part = Files.list(Paths.get(tmp)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.setLastModifiedTime(part, FileTime.fromMillis(mtimeMs))
    Files.createDirectories(Paths.get(dir))
    Files.move(part, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** (log batch, file name) of every file the checkpoint's source log
    * holds, in log order.
    */
  private def logged(cp: String): Seq[(Long, String)] =
    new FileStreamSourceLog(FileStreamSourceLog.VERSION, spark,
      s"$cp/sources/0").get(None, None).toSeq
      .flatMap { case (b, es) => es.map(e => b -> e.sparkPath.toPath.getName) }

  /** Live (key, event_id, value) of the SQL `row_number()` replay. */
  private def replay(log: Seq[LayoutEv]): Set[(String, Long, Long)] = {
    import spark.implicits._
    log.toDF().createOrReplaceTempView("feed_log")
    spark.sql(
      """SELECT key, event_id, value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |    ORDER BY ts_us DESC, event_id DESC) AS rn
        |  FROM feed_log) t
        |WHERE rn = 1 AND op <> 'd'""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
  }

  private def current(state: String): Set[(String, Long, Long)] =
    CdcPipeline.currentState(spark, state).toSeq.flatMap(
      _.select("key", "event_id", "value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))).toSet

  private def options(limit: Option[Int]): Map[String, String] =
    limit.map(n => Map("maxFilesPerTrigger" -> n.toString)).getOrElse(Map())

  // --- arrival schedules ---------------------------------------------

  /** One landed file: name, rows, mtime step over the previous file
    * (0 = the same mtime), and whether its name is hidden.
    */
  private case class Arrival(name: String, evs: Seq[LayoutEv], stepMs: Long,
                             hidden: Boolean)

  private val scheduleGen: Gen[(Option[Int], Seq[Seq[Arrival]])] = {
    val file = for {
      kind <- Gen.frequency(6 -> "", 1 -> "_", 1 -> ".", 1 -> "copy")
      n <- Gen.choose(1, 4)
      keys <- Gen.listOfN(n, Gen.choose(0, 5))
      ops <- Gen.listOfN(n, Gen.frequency(4 -> "u", 1 -> "d"))
      step <- Gen.oneOf(0L, 0L, 2000L)
    } yield (kind, keys.zip(ops), step)
    for {
      limit <- Gen.oneOf(None, Some(1), Some(3))
      steps <- Gen.choose(1, 4).flatMap(s =>
        Gen.listOfN(s, Gen.choose(1, 4).flatMap(Gen.listOfN(_, file))))
    } yield {
      var id = 0L
      limit -> steps.zipWithIndex.map { case (files, si) =>
        files.zipWithIndex.map { case ((kind, rows, step), fi) =>
          val base = f"f$si%02d$fi%02d.parquet"
          val name = kind match {
            case "copy" => s"$base._COPYING_"
            case "" => base
            case p => p + base
          }
          val hidden = kind.nonEmpty
          val evs = rows.map { case (k, op) =>
            id += 1
            // a hidden file's keys are its own: reading one shows
            LayoutEv(if (hidden) s"hidden$k" else s"k$k", id,
              T0 + id * 1000L, op, id * 10)
          }
          Arrival(name, evs, step, hidden)
        }
      }
    }
  }

  test("property: under any arrival schedule each visible file is read " +
       "once, in mtime order, at most maxFilesPerTrigger a batch, and " +
       "the state equals the SQL replay") {
    val prop = Prop.forAllNoShrink(scheduleGen) { case (limit, steps) =>
      val base = Files.createTempDirectory("feedprop").toString
      val (in, state, cp) = (s"$base/in", s"$base/state", s"$base/cp")
      Files.createDirectories(Paths.get(in))
      val q = CdcPipeline.start(
        CdcPipeline.fileSource(spark, in, schema, options(limit)),
        state, cp, availableNow = false)
      var mtime = 1700000000000L
      val mtimes = scala.collection.mutable.Map.empty[String, Long]
      try steps.foreach { files =>
        // landed in mtime order, so any poll sees an mtime prefix
        files.foreach { a =>
          mtime += a.stepMs
          mtimes(a.name) = mtime
          land(in, a.name, a.evs, mtime)
        }
        q.processAllAvailable()
      } finally q.stop()
      val visible = steps.flatten.filterNot(_.hidden)
      val read = logged(cp)
      assert(read.map(_._2).sorted === visible.map(_.name).sorted,
        "each visible file exactly once, no hidden file")
      assert(read.map(r => mtimes(r._2)) ===
        read.map(r => mtimes(r._2)).sorted, s"mtime order: $read")
      limit.foreach { n =>
        assert(read.groupBy(_._1).values.forall(_.size <= n),
          s"a batch over the limit $n: $read")
      }
      assert(current(state) === replay(visible.flatMap(_.evs)))
      true
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(result.passed, result.status.toString)
  }

  // --- checkpoints shared with Spark's file source --------------------

  private def sparkSource(in: String, limit: Option[Int]): DataFrame =
    spark.readStream.options(options(limit)).schema(schema).parquet(in)

  private def graftSource(in: String, limit: Option[Int]): DataFrame =
    CdcPipeline.fileSource(spark, in, schema, options(limit))

  Seq(("Spark's file source", "fileSource", sparkSource _, graftSource _),
      ("fileSource", "Spark's file source", graftSource _, sparkSource _))
    .foreach { case (firstName, thenName, first, second) =>
      test(s"a query stopped mid-stream on $firstName resumes on " +
           s"$thenName: no file re-read or skipped") {
        val base = Files.createTempDirectory("feedresume").toString
        val (in, state, cp) = (s"$base/in", s"$base/state", s"$base/cp")
        val evs = (0 until 6).map(i =>
          (0 until 3).map(j => LayoutEv(s"k${(i * 3 + j) % 5}",
            i * 3L + j, T0 + (i * 3L + j) * 1000L, "u", i * 3L + j)))
        evs.zipWithIndex.foreach { case (e, i) =>
          land(in, f"f$i%02d.parquet", e, 1700000000000L + i * 1000L)
        }
        val q1 = CdcPipeline.start(first(in, Some(1)), state, cp,
          availableNow = false)
        val deadline = System.currentTimeMillis() + 60000
        while (q1.recentProgress.count(_.numInputRows > 0) < 2 &&
               System.currentTimeMillis() < deadline) Thread.sleep(20)
        q1.stop()
        try q1.awaitTermination() catch { case _: Exception => () }
        val before = logged(cp).size
        assert(before >= 2 && before < 6, s"run 1 read $before files")
        // one more file lands while the query is down
        land(in, "f06.parquet", Seq(LayoutEv("k9", 99L, T0 + 99000L, "u",
          99L)), 1700000000000L + 6000L)
        CdcPipeline.start(second(in, None), state, cp).awaitTermination()
        assert(logged(cp).map(_._2).sorted ===
          (0 to 6).map(i => f"f$i%02d.parquet"))
        assert(current(state) === replay(evs.flatten :+
          LayoutEv("k9", 99L, T0 + 99000L, "u", 99L)))
      }
    }

  // --- AvailableNow ---------------------------------------------------

  test("AvailableNow reads the files present at start, one batch each " +
       "under maxFilesPerTrigger=1, and leaves later arrivals to the " +
       "next run") {
    val base = Files.createTempDirectory("feedavail").toString
    val (in, state, cp) = (s"$base/in", s"$base/state", s"$base/cp")
    (0 until 3).foreach { i =>
      land(in, f"f$i%02d.parquet", Seq(LayoutEv(s"k$i", i.toLong,
        T0 + i * 1000L, "u", i.toLong)), 1700000000000L + i * 1000L)
    }
    val q = CdcPipeline.start(graftSource(in, Some(1)), state, cp)
    val deadline = System.currentTimeMillis() + 60000
    while (q.recentProgress.count(_.numInputRows > 0) < 1 &&
           System.currentTimeMillis() < deadline) Thread.sleep(5)
    land(in, "f03.parquet", Seq(LayoutEv("k3", 3L, T0 + 3000L, "u", 3L)),
      1700000000000L + 3000L)
    q.awaitTermination()
    assert(q.recentProgress.filter(_.numInputRows > 0)
      .map(_.numInputRows).toSeq === Seq(1L, 1L, 1L))
    assert(logged(cp).map(_._2) ===
      Seq("f00.parquet", "f01.parquet", "f02.parquet"))
    CdcPipeline.start(graftSource(in, Some(1)), state, cp).awaitTermination()
    assert(logged(cp).map(_._2).last === "f03.parquet")
    assert(current(state).map(_._1) === Set("k0", "k1", "k2", "k3"))
  }

  // --- refusals -------------------------------------------------------

  test("an unsupported option or a non-flat landing dir is refused " +
       "with the typed error") {
    val base = Files.createTempDirectory("feedrefuse").toString
    Files.createDirectories(Paths.get(s"$base/in"))
    Seq("latestFirst" -> "true", "maxFileAge" -> "1h",
        "cleanSource" -> "delete").foreach { case (k, v) =>
      val e = intercept[CdcFeedSource.UnsupportedFeedException](
        CdcPipeline.fileSource(spark, s"$base/in", schema, Map(k -> v)))
      assert(e.getMessage.contains(k))
    }
    // a partition subdirectory fails the query before any batch
    land(s"$base/in/p=1", "f.parquet", Seq(LayoutEv("k", 1L, T0, "u", 1L)),
      1700000000000L)
    val q = CdcPipeline.start(graftSource(s"$base/in", None),
      s"$base/state", s"$base/cp")
    val e = intercept[StreamingQueryException](q.awaitTermination())
    assert(e.getCause.isInstanceOf[CdcFeedSource.UnsupportedFeedException],
      e.toString)
    assert(!Files.exists(Paths.get(s"$base/state")))
  }

  // --- cost and telemetry ---------------------------------------------

  test("an idle poll is exactly one listStatus of the landing dir") {
    val key = "fs.cntfs.impl"
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set(key, classOf[ListCountingFs].getName)
    try {
      val base = Files.createTempDirectory("feedidle").toString
      land(s"$base/in", "f00.parquet", Seq(LayoutEv("k", 1L, T0, "u", 1L)),
        1700000000000L)
      val src = new CdcFeedSource(spark.asInstanceOf[classic.SparkSession],
        s"cntfs://$base/in", schema, s"$base/meta", None, Long.MaxValue)
      assert(src.latestOffset(null, ReadLimit.allAvailable()) != null)
      val c0 = ListCountingFs.calls.get
      (1 to 25).foreach { _ =>
        src.latestOffset(null, ReadLimit.allAvailable())
      }
      assert(ListCountingFs.calls.get - c0 === 25)
      val m = src.metrics(java.util.Optional.empty()).asScala
      assert(m === Map("polls" -> "26", "listings" -> "26",
        "filesListed" -> "26", "newFiles" -> "1"))
    } finally conf.unset(key)
  }

  test("progress events carry the polls, listings and files since the " +
       "previous progress event") {
    val base = Files.createTempDirectory("feedmetrics").toString
    val (in, state, cp) = (s"$base/in", s"$base/state", s"$base/cp")
    land(in, "f00.parquet", Seq(LayoutEv("k0", 0L, T0, "u", 0L)),
      1700000000000L)
    val q: StreamingQuery = CdcPipeline.start(graftSource(in, None), state, cp,
      availableNow = false)
    try {
      q.processAllAvailable()
      Thread.sleep(600) // idle: ~60 polls at the 10 ms polling delay
      land(in, "f01.parquet", Seq(LayoutEv("k1", 1L, T0 + 1000L, "u", 1L)),
        1700000000000L + 1000L)
      q.processAllAvailable()
    } finally q.stop()
    val events = q.recentProgress.toSeq
    def metric(p: org.apache.spark.sql.streaming.StreamingQueryProgress,
               k: String): Long = p.sources.head.metrics.get(k).toLong
    assert(events.map(metric(_, "newFiles")).sum === 2)
    val second = events.filter(_.numInputRows > 0).last
    assert(metric(second, "newFiles") === 1)
    assert(metric(second, "polls") >= 10, second.sources.head.metrics)
    assert(metric(second, "listings") === metric(second, "polls"))
    assert(metric(second, "filesListed") >= metric(second, "listings"))
  }
}
