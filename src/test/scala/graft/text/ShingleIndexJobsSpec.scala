package graft.text

import java.util.Properties

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.SparkSpec
import graft.obs.Trace
import graft.ops.TextQueries
import graft.sources.{PointerFile, SegmentedIndex}

/** The shingle index's Spark jobs: maintenance and reads run no
  * metadata job (no footer inference, the fold sized from the
  * segments' recorded postings counts), so the fold, the probe and
  * describe run the same number of jobs at any chain length; a
  * one-bucket append runs 5 jobs and a fold to one bucket 3, while a
  * segment of several buckets keeps one postings file per bucket; the
  * segment writers release their kernel's blocks; every job a call
  * starts, also the concurrent writes, carries the caller's local
  * properties and the op's name as its call site; segments written
  * before the count line fold and probe as before; and doc ids are
  * stored as BIGINT.
  */
class ShingleIndexJobsSpec extends SparkSpec {

  private def planted: DataFrame = TextQueries.plantedDocs(spark, sf)
  private def existing = planted.filter(col("doc_id") < 1000000L)
  private def incoming = planted.filter(col("doc_id") >= 1000000L)

  private def fs = new Path("/tmp")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def fresh(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString + "/idx"

  /** A chain of `n` segments over `existing`: a base build, then
    * n − 1 appends, split by doc_id modulo n.
    */
  private def chain(n: Int, dir: String): String = {
    Dedup.buildShingleIndex(existing.filter(col("doc_id") % n === 0), dir)
    (1 until n).foreach(i =>
      Dedup.appendShingleIndex(dir,
        existing.filter(col("doc_id") % n === i)))
    assert(segs(dir).size === n)
    dir
  }

  private def segs(dir: String): Seq[String] =
    SegmentedIndex.segments(spark, dir,
      SegmentedIndex.currentVersion(spark, dir))

  private def probe(dir: String): DataFrame =
    Dedup.probeShingleIndex(dir, incoming, k = 3, threshold = 0.8)

  private def assertSame(a: DataFrame, b: DataFrame, what: String): Unit =
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, what)

  /** (local properties, first stage name) of every job `body` starts. */
  private def jobsOf(body: => Unit): Seq[(Properties, String)] =
    Trace.of(spark)(body).jobs.map(j => (j.properties, j.site))

  private def sites(jobs: Seq[(Properties, String)]) =
    jobs.map(_._2).mkString("\n")

  test("the fold runs as many jobs on a 5-segment chain as on a " +
       "2-segment one") {
    val two = chain(2, fresh("shjobs2"))
    val five = chain(5, fresh("shjobs5"))
    val j2 = jobsOf(Dedup.compactShingleIndex(spark, two))
    val j5 = jobsOf(Dedup.compactShingleIndex(spark, five))
    assert(segs(two).size === 1 && segs(five).size === 1)
    assert(j2.size === j5.size,
      s"2 segments:\n${sites(j2)}\n5 segments:\n${sites(j5)}")
    // a fold to one bucket writes postings, sizes and df: no shuffle
    assert(meta(two).head === "1" && meta(five).head === "1")
    assert(j2.size === 3, sites(j2))
  }

  /** The lines of the `buckets` file of `dir`'s segment `i`. */
  private def meta(dir: String, i: Int = 0): Seq[String] = PointerFile.read(
    fs, new Path(s"$dir/${segs(dir)(i)}/buckets")).linesIterator.toSeq

  test("a one-bucket append runs 5 jobs, and a build no more") {
    val dir = chain(1, fresh("shbudget"))
    val delta = incoming.filter(col("doc_id") % 2 === 0)
    val append = jobsOf(Dedup.appendShingleIndex(dir, delta))
    assert(meta(dir, 1).head === "1")
    // the kernel's spread and checkpoint, then postings, sizes and df
    assert(append.size === 5, sites(append))
    val build = jobsOf(Dedup.buildShingleIndex(existing, fresh("shbudgetb")))
    assert(build.size <= append.size, sites(build))
  }

  test("a segment of several buckets writes one postings file per " +
       "bucket and records its bucket and postings counts") {
    import org.apache.spark.sql.execution.datasources.BucketingUtils
    val one = fresh("shone")
    Dedup.buildShingleIndex(existing, one)
    val nPost = meta(one)(1).toLong
    val many = fresh("shmany")
    Dedup.buildShingleIndex(existing, many, 3, nPost / 3 + 1)
    assert(meta(one) === Seq("1", s"$nPost"))
    assert(meta(many) === Seq("3", s"$nPost"))
    def bucketIds(dir: String) = fs.listStatus(
        new Path(s"$dir/${segs(dir).head}/postings"))
      .map(_.getPath.getName).filter(_.endsWith(".parquet"))
      .map(n => BucketingUtils.getBucketId(n).get).toSeq.sorted
    assert(bucketIds(one) === Seq(0))
    assert(bucketIds(many) === Seq(0, 1, 2))
    def postings(dir: String) =
      spark.read.parquet(s"$dir/${segs(dir).head}/postings")
    assert(postings(many).count() === nPost)
    assertSame(postings(one), postings(many), "3-bucket postings")
    assertSame(probe(one), probe(many), "3-bucket probe")
  }

  test("build, append and a quiet append release the kernel's blocks " +
       "on return") {
    val sc = spark.sparkContext
    val dir = fresh("shrelease")
    // docs too short to shingle: the append commits nothing
    val quiet = incoming.select(col("doc_id"), lit("two tokens").as("text"))
    val before = sc.getPersistentRDDs.keySet
    def added = sc.getPersistentRDDs.keySet -- before
    Dedup.buildShingleIndex(existing, dir)
    assert(added.isEmpty, "build")
    Dedup.appendShingleIndex(dir, incoming)
    assert(added.isEmpty, "append")
    val version = SegmentedIndex.currentVersion(spark, dir)
    Dedup.appendShingleIndex(dir, quiet)
    assert(added.isEmpty, "quiet append")
    assert(SegmentedIndex.currentVersion(spark, dir) === version)
  }

  test("describe runs as many jobs at chain length 4 as at 1, a row " +
       "per segment with that segment's counts") {
    val one = chain(1, fresh("shdesc1"))
    val four = chain(4, fresh("shdesc4"))
    def describe(dir: String) =
      Dedup.describeShingleIndex(spark, dir).collect().sortBy(_.getInt(0))
    var d1, d4: Array[org.apache.spark.sql.Row] = null
    val j1 = jobsOf { d1 = describe(one) }
    val j4 = jobsOf { d4 = describe(four) }
    assert(j1.size === j4.size,
      s"1 segment:\n${sites(j1)}\n4 segments:\n${sites(j4)}")
    assert(j4.size === 2, sites(j4))
    assert(d1.length === 1)
    val direct = segs(four).zipWithIndex.map { case (v, i) =>
      val sizes = spark.read.parquet(s"$four/$v/sizes")
        .agg(count(lit(1)), sum("n_sh"), min("doc_id"), max("doc_id"))
        .head()
      val shingles = spark.read.parquet(s"$four/$v/dfreq").count()
      (i, sizes.getLong(0), sizes.getLong(1), shingles, sizes.getLong(2),
        sizes.getLong(3))
    }
    assert(d4.toSeq.map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5))) === direct)
    // a build over docs too short to shingle: one segment, no rows
    val empty = fresh("shdesc0")
    Dedup.buildShingleIndex(
      existing.select(col("doc_id"), lit("two tokens").as("text")), empty)
    assert(describe(empty).toSeq.map(_.toSeq) ===
      Seq(Seq(0, 0L, null, 0L, null, null)))
  }

  test("the probe runs as many jobs at chain length 3 as at 1") {
    val one = chain(1, fresh("shprobe1"))
    val three = chain(3, fresh("shprobe3"))
    var r1, r3: DataFrame = null
    val j1 = jobsOf { r1 = probe(one); r1.collect() }
    val j3 = jobsOf { r3 = probe(three); r3.collect() }
    assert(j1.size === j3.size,
      s"1 segment:\n${sites(j1)}\n3 segments:\n${sites(j3)}")
    assertSame(r1, r3, "chain-3 probe diverged from chain-1")
  }

  test("every job of append and compact carries the caller's local " +
       "properties, the concurrent writes' too") {
    val dir = chain(2, fresh("shprops"))
    val key = "graft.spec.caller"
    val sc = spark.sparkContext
    sc.setLocalProperty(key, "owner")
    try {
      val jobs = jobsOf {
        Dedup.appendShingleIndex(dir,
          incoming.filter(col("doc_id") % 2 === 0))
        Dedup.compactShingleIndex(spark, dir)
      }
      assert(jobs.nonEmpty)
      val lost = jobs.filter(_._1.getProperty(key) != "owner")
      assert(lost.isEmpty,
        s"${lost.size} of ${jobs.size} jobs lost the caller's " +
          s"property:\n${sites(lost)}")
    } finally sc.setLocalProperty(key, null)
    assert(segs(dir).size === 1)
  }

  test("every job of append, fold and probe carries its op's call " +
       "site; the caller's is restored and names the probe's result") {
    val dir = chain(2, fresh("shsites"))
    val sc = spark.sparkContext
    def named(site: String, jobs: Seq[(Properties, String)]): Unit = {
      assert(jobs.nonEmpty, site)
      val other = jobs.filterNot(j =>
        j._1.getProperty("callSite.short") == site && j._2 == site)
      assert(other.isEmpty,
        s"${other.size} of ${jobs.size} jobs not named $site:\n" +
          sites(other))
    }
    // resolved outside the listener: reading the corpus infers its
    // schema in a job of the spec's own
    val delta = incoming.filter(col("doc_id") % 2 === 0)
    val shard = incoming
    sc.setCallSite("spec.caller")
    try {
      named("appendShingleIndex",
        jobsOf(Dedup.appendShingleIndex(dir, delta)))
      var probed: DataFrame = null
      named("probeShingleIndex", jobsOf {
        probed = Dedup.probeShingleIndex(dir, shard, k = 3, threshold = 0.8)
      })
      assert(sc.getLocalProperty("callSite.short") === "spec.caller")
      // the probe's result is lazy: its jobs run in the caller's action,
      // under the caller's call site, AQE's and the broadcast's included
      named("spec.caller", jobsOf(probed.collect()))
      named("compactShingleIndex",
        jobsOf(Dedup.compactShingleIndex(spark, dir)))
      assert(sc.getLocalProperty("callSite.short") === "spec.caller")
    } finally sc.clearCallSite()
    assert(segs(dir).size === 1)
  }

  test("segments without the count line fold and probe like a " +
       "rebuild, to the new path's bucket count") {
    val counted = chain(3, fresh("shcounted"))
    val legacy = chain(3, fresh("shlegacy"))
    // rewrite two of the legacy chain's `buckets` files to the old
    // one-line form
    segs(legacy).take(2).foreach { v =>
      val p = new Path(s"$legacy/$v/buckets")
      val first = PointerFile.read(fs, p).linesIterator.next()
      val out = fs.create(p, true)
      try out.write(first.getBytes("UTF-8")) finally out.close()
      assert(PointerFile.read(fs, p) === first)
    }
    // the chain reads register no table, so there is none to drop
    assert(spark.sql("SHOW TABLES").collect().map(_.getString(1))
      .filter(_.startsWith("graft_shidx_")).isEmpty)
    val rebuilt = fresh("shrebuilt")
    Dedup.buildShingleIndex(existing, rebuilt)
    assertSame(probe(legacy), probe(rebuilt), "legacy chain probe")
    Dedup.compactShingleIndex(spark, counted)
    Dedup.compactShingleIndex(spark, legacy)
    val nPost =
      spark.read.parquet(s"$rebuilt/${segs(rebuilt).head}/postings").count()
    assert(meta(legacy) === meta(counted))
    assert(meta(legacy) === meta(rebuilt))
    assert(meta(legacy)(1).toLong === nPost)
    assert(meta(legacy).head.toInt === Dedup.segmentBuckets(nPost))
    assertSame(probe(legacy), probe(rebuilt), "folded legacy probe")
    assertSame(probe(counted), probe(rebuilt), "folded probe")
  }

  test("an INT doc_id is stored as BIGINT with probe values unchanged; " +
       "a non-integral doc_id is refused before any job") {
    val asInt = fresh("shint")
    val asLong = fresh("shlong")
    val intIds =
      existing.select(col("doc_id").cast("int").as("doc_id"), col("text"))
    Dedup.buildShingleIndex(intIds.filter(col("doc_id") % 2 === 0), asInt)
    Dedup.appendShingleIndex(asInt, intIds.filter(col("doc_id") % 2 === 1))
    Dedup.buildShingleIndex(existing, asLong)
    for (v <- segs(asInt); f <- Seq("postings", "sizes")) {
      val onDisk = spark.read.parquet(s"$asInt/$v/$f")
      assert(onDisk.schema("doc_id").dataType === LongType, s"$v/$f")
    }
    val p = probe(asInt)
    assert(p.schema("a_id").dataType === LongType)
    assert(p.count() > 0)
    assertSame(p, probe(asLong), "INT-id probe")
    val refused = fresh("shstr")
    val strIds =
      existing.select(col("doc_id").cast("string").as("doc_id"), col("text"))
    val jobs = jobsOf {
      val e = intercept[IllegalArgumentException] {
        Dedup.buildShingleIndex(strIds, refused)
      }
      assert(e.getMessage.contains("integral"), e.getMessage)
    }
    assert(jobs.isEmpty, sites(jobs))
    assert(!fs.exists(new Path(refused)))
  }
}
