package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec
import graft.obs.Trace
import graft.sources.SegmentedIndex

/** Top-level so Spark's encoder codegen sees a static case class. */
case class LayoutEv(key: String, event_id: Long, ts_us: Long, op: String,
                    value: Long)

/** The CDC store's data-sized bucket layout and its commit through the
  * shared versioned protocol: growth and shrink against a SQL replay,
  * time travel and diffs across a layout change, a writer killed at
  * each commit point, a merge racing a compaction, retention GC,
  * `describe`, and type drift in the stored schema.
  *
  * Stores here size with 4 rows per bucket (the package-private
  * `perBucket` argument) so splits happen at test sizes.
  */
class CdcLayoutSpec extends SparkSpec {

  private val PerBucket = 4L

  private def fresh(name: String): String =
    Files.createTempDirectory(name).toString + "/s"

  private def merge(evs: Seq[LayoutEv], state: String, id: Long,
                    cfg: CdcPipeline.Config = CdcPipeline.Config()): Unit = {
    import spark.implicits._
    CdcPipeline.mergeBatch(evs.toDF(), state, cfg, id, PerBucket)
  }

  /** Live rows of the SQL `row_number()` latest-wins replay of `log`. */
  private def replay(log: Seq[LayoutEv]): Set[(String, Long, Long)] = {
    import spark.implicits._
    log.toDF().createOrReplaceTempView("layout_log")
    spark.sql(
      """SELECT key, event_id, value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |    ORDER BY ts_us DESC, event_id DESC) AS rn
        |  FROM layout_log) t
        |WHERE rn = 1 AND op <> 'd'""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
  }

  private def rowsOf(df: Option[DataFrame]): Set[(String, Long, Long)] =
    df.map(_.select("key", "event_id", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet)
      .getOrElse(Set.empty)

  private def current(state: String) =
    rowsOf(CdcPipeline.currentState(spark, state))

  /** Bucket count of the newest commit. */
  private def buckets(state: String): Int =
    CdcPipeline.describe(spark, state).orderBy(desc("seq")).head()
      .getAs[Int]("buckets")

  /** The bucket data paths of every retained version, oldest first. */
  private def refs(state: String): Seq[Set[String]] =
    CdcPipeline.retainedBuckets(spark, state).map(_.toSet)

  /** Every row of the newest version, tombstones included. */
  private def everything(state: String): Set[(String, Long, String, Long)] =
    spark.read.parquet(refs(state).last.toSeq: _*)
      .select("key", "event_id", "op", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSet

  /** Every bucket data dir on disk, once the version vacuum is idle. */
  private def onDisk(state: String): Set[String] = {
    SegmentedIndex.awaitGc()
    Option(new java.io.File(s"$state/batches").listFiles()).toSeq.flatten
      .filter(_.isDirectory)
      .flatMap(d => d.listFiles().toSeq
        .filter(_.getName.startsWith("__bucket="))
        .map(b => s"$state/batches/${d.getName}/${b.getName}"))
      .toSet
  }

  /** Events covering every key in [0, keys) once, plus `extra` random
    * ones, with ids from `id0` and timestamps in [t0, t0 + span).
    */
  private def batchGen(keys: Int, extra: Int, id0: Long, t0: Long,
                       span: Long): Gen[Seq[LayoutEv]] = {
    val ev = for {
      ts <- Gen.choose(t0, t0 + span - 1)
      op <- Gen.frequency(2 -> "c", 5 -> "u", 2 -> "d")
      v <- Gen.choose(0L, 999L)
    } yield (ts, op, v)
    for {
      cover <- Gen.listOfN(keys, ev)
      more <- Gen.listOfN(extra, Gen.zip(Gen.choose(0, keys - 1), ev))
    } yield (cover.zipWithIndex.map { case (e, k) => (k, e) } ++ more)
      .zipWithIndex.map { case ((k, (ts, op, v)), i) =>
        LayoutEv(s"k$k", id0 + i, ts, op, v)
      }
  }

  test("bucketsFor: clamp(ceil(rows / RowsPerBucket), 1, 4096); the " +
       "benchmark's 30k-row store is 1–4 buckets") {
    import CdcPipeline.{RowsPerBucket, bucketsFor}
    assert(bucketsFor(0L) === 1)
    assert(bucketsFor(RowsPerBucket) === 1)
    assert(bucketsFor(RowsPerBucket + 1) === 2)
    assert(bucketsFor(Long.MaxValue / 2) === 4096)
    assert((1 to 4).contains(bucketsFor(30000L)))
  }

  test("property: a store grows from 1 bucket through two splits, " +
       "compaction shrinks it, and every commit equals the SQL replay") {
    val seqGen = for {
      b0 <- batchGen(3, 2, 0L, 0L, 1000L)
      b1 <- batchGen(12, 6, 100L, 500L, 1000L)
      b2 <- batchGen(48, 20, 200L, 1000L, 1000L)
      dead <- Gen.choose(36, 44).flatMap(n =>
        Gen.pick(n, (0 until 48).toList))
    } yield (b0, b1, b2, dead.toSeq.sorted)
    val prop = Prop.forAllNoShrink(seqGen) { case (b0, b1, b2, dead) =>
      val state = fresh("cdc_grow")
      val b3 = dead.zipWithIndex.map { case (k, i) =>
        LayoutEv(s"k$k", 1000L + i, 1000000L + i, "d", 0L)
      }
      var log = Seq.empty[LayoutEv]
      val layouts = Seq(b0, b1, b2, b3).zipWithIndex.map { case (b, i) =>
        merge(b, state, i.toLong)
        log ++= b
        assert(current(state) === replay(log), s"after commit $i")
        // the manifest's row count tracks every key ever seen (the
        // store keeps tombstones)
        val top = CdcPipeline.describe(spark, state).orderBy(desc("seq"))
          .head()
        assert(top.getAs[Long]("rows") === log.map(_.key).distinct.size)
        top.getAs[Int]("buckets")
      }
      // 3 rows → 1; +12 → 4 (≥ 2×); +48 → 15 (≥ 2×); +36..44 → 21 is
      // < 2× of 15, so the layout holds
      assert(layouts === Seq(1, 4, 15, 15))
      CdcPipeline.compact(spark, state, CdcPipeline.Config(),
        Long.MaxValue, 9L, PerBucket)
      val live = replay(log)
      assert(current(state) === live)
      assert(buckets(state) ===
        CdcPipeline.bucketsFor(live.size.toLong, PerBucket))
      assert(buckets(state) < 15, "compaction did not shrink the layout")
      true
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(4), prop)
    assert(result.passed, result.status.toString)
  }

  /** Example batches drawn from the generator under fixed seeds. */
  private val rnd = new scala.util.Random(17)
  private def fixed(keys: Int, id0: Long, t0: Long): Seq[LayoutEv] =
    batchGen(keys, keys / 2, id0, t0, 1000L)
      .apply(Gen.Parameters.default, org.scalacheck.rng.Seed(rnd.nextLong()))
      .get

  test("stateAsOf and stateDiff are exact across a layout change") {
    val state = fresh("cdc_tt_layout")
    val cfg = CdcPipeline.Config(retainVersions = 10)
    val b0 = fixed(3, 0L, 0L)
    val b1 = fixed(12, 100L, 500L)
    merge(b0, state, 0L, cfg)
    merge(b1, state, 1L, cfg)
    CdcPipeline.compact(spark, state, cfg, Long.MaxValue, 2L, PerBucket)
    assert(CdcPipeline.describe(spark, state).orderBy("seq")
      .select("buckets").collect().map(_.getInt(0)).toSeq ===
      Seq(1, 4, CdcPipeline.bucketsFor(replay(b0 ++ b1).size.toLong,
        PerBucket)))
    val s0 = replay(b0)
    val s1 = replay(b0 ++ b1)
    assert(rowsOf(CdcPipeline.stateAsOf(spark, state, 0L)) === s0)
    assert(rowsOf(CdcPipeline.stateAsOf(spark, state, 1L)) === s1)
    assert(rowsOf(CdcPipeline.stateAsOf(spark, state, 2L)) === s1)

    val byKey0 = s0.map(r => r._1 -> r._2).toMap
    val byKey1 = s1.map(r => r._1 -> r._2).toMap
    val expected = (byKey0.keySet ++ byKey1.keySet).toSeq.flatMap { k =>
      (byKey0.get(k), byKey1.get(k)) match {
        case (None, Some(_)) => Some(k -> "added")
        case (Some(_), None) => Some(k -> "removed")
        case (Some(a), Some(b)) if a != b => Some(k -> "updated")
        case _ => None
      }
    }.toSet
    def diff(from: Long, to: Long): Set[(String, String)] =
      CdcPipeline.stateDiff(spark, state, from, to, cfg)
        .select("key", "change").collect()
        .map(r => r.getString(0) -> r.getString(1)).toSet
    assert(expected.nonEmpty)
    assert(diff(0L, 1L) === expected)
    // compaction drops only tombstones: the live state does not change
    assert(diff(1L, 2L).isEmpty)
  }

  // a writer killed right after a commit phase: "merge_write" /
  // "compact_write" land the data dir, "manifest" is the commit point
  private final class Killed extends RuntimeException("killed")

  private def killedAfter(phase: String)(f: => Unit): Unit =
    intercept[Killed](Trace.of(spark, p =>
      if (p.name == phase) throw new Killed)(f))

  private case class KillCase(name: String, relayout: Boolean,
                              cfg: CdcPipeline.Config,
                              commit: (String, Long) => Unit,
                              writePhase: String)

  private val b0 = fixed(3, 0L, 0L)
  // k11's last event is a delete, so compaction has a tombstone to drop
  private val grow = fixed(12, 100L, 500L) :+
    LayoutEv("k11", 199L, 1499L, "d", 0L)
  private val partialCfg = CdcPipeline.Config(numBuckets = Some(4))
  private val killCases = Seq(
    // one key into a pinned 4-bucket store: touches one bucket
    KillCase("partial merge", relayout = false, partialCfg,
      (s, id) => merge(Seq(LayoutEv("k0", 900L, 5000L, "u", 7L)), s, id,
        partialCfg), "merge_write"),
    // 12 keys into a 1-bucket store: re-buckets to 4
    KillCase("re-bucketing merge", relayout = true, CdcPipeline.Config(),
      (s, id) => merge(grow, s, id), "merge_write"),
    // compaction re-sizes every time
    KillCase("re-bucketing compaction", relayout = true,
      CdcPipeline.Config(),
      (s, id) => CdcPipeline.compact(spark, s, CdcPipeline.Config(),
        Long.MaxValue, id, PerBucket), "compact_write"))

  killCases.foreach { k =>
    Seq(k.writePhase, "manifest").foreach { phase =>
      test(s"${k.name}: a writer killed after $phase leaves the old or " +
           "the new version readable, never a mix; GC collects the rest") {
        val state = fresh("cdc_kill")
        merge(b0, state, 0L, k.cfg)
        if (k.name.contains("compaction")) merge(grow, state, 1L, k.cfg)
        val before = everything(state)
        val commitsBefore = CdcPipeline.commits(spark, state)
        val bucketsBefore = buckets(state)
        // the same commit on an untouched copy gives the new version
        val twin = fresh("cdc_kill_twin")
        merge(b0, twin, 0L, k.cfg)
        if (k.name.contains("compaction")) merge(grow, twin, 1L, k.cfg)
        k.commit(twin, 5L)
        val after = everything(twin)
        assert(after !== before, "fixture commit must change the state")
        assert((buckets(twin) != bucketsBefore) === k.relayout)

        killedAfter(phase)(k.commit(state, 5L))
        if (phase == "manifest") {
          assert(everything(state) === after)
          assert(buckets(state) === buckets(twin))
          // one commit more, within the retention window
          assert(CdcPipeline.commits(spark, state) ===
            (commitsBefore :+ (commitsBefore.last._1 + 1, 5L))
              .takeRight(k.cfg.retainVersions))
        } else {
          assert(everything(state) === before)
          assert(buckets(state) === bucketsBefore)
          assert(CdcPipeline.commits(spark, state) === commitsBefore)
          // the orphaned data dir is the only trace
          val orphans = onDisk(state) -- refs(state).flatten
          assert(orphans.nonEmpty &&
            orphans.map(p => new java.io.File(p).getParent).size === 1)
          // the re-delivered commit lands
          k.commit(state, 5L)
          assert(everything(state) === after)
        }
        // one more commit: GC leaves exactly what the retained
        // versions reference
        merge(Seq(LayoutEv("k1", 950L, 6000L, "u", 8L)), state, 6L, k.cfg)
        assert(onDisk(state) === refs(state).takeRight(2).flatten.toSet)
      }
    }
  }

  // a merge commits from inside a compaction: after its data write, and
  // after its bucket guard, the last phase before its flip
  Seq("compact_write", "bucket_guard").foreach { phase =>
    test(s"a merge that commits after compact's $phase fails the " +
         "compaction with the concurrent-writer error, never losing the " +
         "merged row") {
      val state = fresh("cdc_race")
      merge(b0, state, 0L)
      merge(grow, state, 1L)
      val row = LayoutEv("k2", 990L, 9000L, "u", 42L)
      var raced = false
      val e = intercept[IllegalArgumentException](Trace.of(spark, p =>
        if (p.name == phase && !raced) {
          raced = true
          merge(Seq(row), state, 2L)
        })(CdcPipeline.compact(spark, state, CdcPipeline.Config(),
          Long.MaxValue, 3L, PerBucket)))
      assert(raced)
      assert(e.getMessage.contains("concurrent writer detected"))
      assert(current(state) === replay(b0 ++ grow :+ row))
      assert(CdcPipeline.commits(spark, state).map(_._2) === Seq(1L, 2L))
      // re-run against the new head: it commits and keeps the row
      CdcPipeline.compact(spark, state, CdcPipeline.Config(),
        Long.MaxValue, 3L, PerBucket)
      assert(current(state) === replay(b0 ++ grow :+ row))
      assert(CdcPipeline.commits(spark, state).map(_._2) === Seq(2L, 3L))
    }
  }

  test("GC across a layout change keeps exactly the last retainVersions " +
       "versions readable") {
    val state = fresh("cdc_gc_layout")
    val cfg = CdcPipeline.Config(retainVersions = 2)
    val b2 = Seq(LayoutEv("k1", 990L, 9000L, "u", 1L))
    merge(b0, state, 0L, cfg)
    merge(grow, state, 1L, cfg)
    merge(b2, state, 2L, cfg)
    assert(CdcPipeline.describe(spark, state).orderBy("seq")
      .select("buckets").collect().map(_.getInt(0)).toSeq === Seq(4, 4))
    def readable(id: Long): Boolean =
      try { CdcPipeline.stateAsOf(spark, state, id); true }
      catch {
        case e: IllegalArgumentException
            if e.getMessage.contains("retention") => false
      }
    assert(!readable(0L) && readable(1L) && readable(2L))
    assert(rowsOf(CdcPipeline.stateAsOf(spark, state, 1L)) ===
      replay(b0 ++ grow))
    assert(current(state) === replay(b0 ++ grow ++ b2))
    assert(onDisk(state) === refs(state).takeRight(2).flatten.toSet)
    // a shrinking compaction ages the split commit out in turn
    CdcPipeline.compact(spark, state, cfg, Long.MaxValue, 3L, PerBucket)
    assert(!readable(1L) && readable(2L) && readable(3L))
    assert(current(state) === replay(b0 ++ grow ++ b2))
    assert(onDisk(state) === refs(state).takeRight(2).flatten.toSet)
    // versions: the retained two; the aged-out one left no metadata
    assert(refs(state).size === 2)
  }

  test("a store in the per-bucket-pointer format is refused with a " +
       "rebuild message, not read as empty or partial") {
    val state = fresh("cdc_legacy")
    // the manifest layout, in its per-bucket-pointer format: data under
    // batches/<dir>/__bucket=<b>, a manifest holding only the batch id
    // and the map, no batches/_CURRENT
    import spark.implicits._
    b0.toDF().write.parquet(s"$state/batches/b0-legacy/__bucket=0")
    Files.createDirectories(Paths.get(s"$state/manifests"))
    Files.writeString(Paths.get(s"$state/manifests/000000000"),
      "batchId=0\n0 b0-legacy")
    Seq(() => CdcPipeline.currentState(spark, state),
        () => merge(b0, state, 1L),
        () => CdcPipeline.compact(spark, state, CdcPipeline.Config(),
          Long.MaxValue, 1L, PerBucket),
        () => CdcPipeline.commits(spark, state),
        () => CdcPipeline.stateAsOf(spark, state, 0L),
        () => CdcPipeline.describe(spark, state)).foreach { op =>
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains("rebuild"))
    }
  }

  test("describe: one row per retained commit with its buckets, rows, " +
       "files and bytes") {
    val state = fresh("cdc_describe")
    val cfg = CdcPipeline.Config(retainVersions = 3)
    merge(b0, state, 0L, cfg)
    merge(grow, state, 1L, cfg)
    merge(Seq(LayoutEv("k2", 991L, 9100L, "u", 2L)), state, 2L, cfg)
    merge(Seq(LayoutEv("k3", 992L, 9200L, "u", 3L)), state, 3L, cfg)
    val d = CdcPipeline.describe(spark, state)
    assert(d.columns.toSeq ===
      Seq("seq", "batch_id", "buckets", "rows", "files", "bytes"))
    val rows = d.orderBy("seq").collect()
    assert(rows.map(_.getAs[Long]("batch_id")).toSeq === Seq(1L, 2L, 3L))
    assert(rows.map(_.getAs[Long]("seq")).toSeq === Seq(1L, 2L, 3L))
    assert(rows.forall(_.getAs[Int]("buckets") == 4))
    assert(rows.last.getAs[Long]("rows") ===
      (b0 ++ grow).map(_.key).distinct.size)
    // the newest version's files and bytes, by an independent walk
    val files = refs(state).last.toSeq.flatMap { dir =>
      Files.list(Paths.get(dir)).iterator()
        .asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    }
    assert(rows.last.getAs[Long]("files") === files.size)
    assert(rows.last.getAs[Long]("bytes") === files.map(Files.size).sum)
  }

  test("type drift: a widened column is persisted wider and old files " +
       "read widened; an incompatible type fails typed, state untouched") {
    val state = fresh("cdc_drift")
    val cfg = CdcPipeline.Config(numBuckets = Some(8))
    val base = spark.range(40).select(
      concat(lit("k"), col("id").cast("string")).as("key"),
      col("id").as("event_id"), lit(1L).as("ts_us"), lit("c").as("op"),
      col("id").cast("int").as("value"),
      (col("id") / 4).cast("float").as("f"),
      col("id").cast("decimal(10,2)").as("d"))
    CdcPipeline.mergeBatch(base, state, cfg, 0L)
    def stored(c: String): DataType = DataType.fromJson(Files.readString(
      Paths.get(s"$state/meta/schema"))).asInstanceOf[StructType](c).dataType
    assert(stored("value") === IntegerType)
    // one key, wider types: the other buckets keep their INT32 /
    // FLOAT / DECIMAL(10,2) files
    val wide = base.filter(col("key") === "k3").select(col("key"),
      lit(100L).as("event_id"), lit(2L).as("ts_us"), lit("u").as("op"),
      lit(5000000000L).as("value"), lit(0.1d).as("f"),
      lit(BigDecimal("12345678.1234")).cast("decimal(12,4)").as("d"))
    CdcPipeline.mergeBatch(wide, state, cfg, 1L)
    assert(stored("value") === LongType)
    assert(stored("f") === DoubleType)
    assert(stored("d") === DecimalType(12, 4))
    val st = CdcPipeline.currentState(spark, state).get
    assert(st.schema("value").dataType === LongType)
    val byKey = st.select("key", "value", "f", "d").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(byKey.size === 40)
    assert(byKey("k3").getLong(1) === 5000000000L)
    assert(byKey("k3").getDecimal(3).compareTo(
      new java.math.BigDecimal("12345678.1234")) === 0)
    assert(byKey("k7").getLong(1) === 7L)
    assert(byKey("k7").getDouble(2) === 1.75)
    assert(byKey("k7").getDecimal(3).compareTo(
      new java.math.BigDecimal("7")) === 0)
    // a narrower batch merges into the wider stored type
    CdcPipeline.mergeBatch(base.filter(col("key") === "k5")
      .withColumn("ts_us", lit(3L)), state, cfg, 2L)
    assert(stored("value") === LongType)
    assert(CdcPipeline.currentState(spark, state).get.count() === 40)

    val commits = CdcPipeline.commits(spark, state)
    val dirs = onDisk(state)
    val schemaBefore = Files.readString(Paths.get(s"$state/meta/schema"))
    val e = intercept[CdcPipeline.TypeDriftException] {
      CdcPipeline.mergeBatch(base.withColumn("value",
        col("value").cast("string")).withColumn("ts_us", lit(4L)),
        state, cfg, 3L)
    }
    assert(e.column === "value" && e.stored === LongType &&
      e.incoming === StringType)
    assert(CdcPipeline.commits(spark, state) === commits)
    assert(onDisk(state) === dirs, "a refused batch wrote data")
    assert(Files.readString(Paths.get(s"$state/meta/schema")) ===
      schemaBefore)
  }
}
