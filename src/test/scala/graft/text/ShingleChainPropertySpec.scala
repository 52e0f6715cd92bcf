package graft.text

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec
import graft.ops.TextQueries
import graft.sources.{PointerFile, SegmentedIndex}

/** The shingle index's chain read over chains that mix everything a
  * standing index can hold: segments of different bucket counts (built
  * with the package-private `perBucket` argument), a pre-bucketing
  * segment (plain parquet postings, no `buckets` file) and a segment
  * whose `buckets` file has only the legacy count line. The chain scan
  * neither drops nor duplicates a row, and the probe (capped and
  * uncapped) and the phrase search answer as a recompute over the
  * union does.
  */
class ShingleChainPropertySpec extends SparkSpec {

  private def planted: DataFrame = TextQueries.plantedDocs(spark, sf)
  private def existing = planted.filter(col("doc_id") < 1000000L)
  private def incoming = planted.filter(col("doc_id") >= 1000000L)

  private def fs = new Path("/tmp")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Over-cap shingles exist at this cap in the test corpus (45 have
    * df > 5), so the capped probe drops postings.
    */
  private val Cap = 5

  private def probe(dir: String, cap: Int): Set[Row] =
    Dedup.probeShingleIndex(dir, incoming, k = 3, threshold = 0.8,
      maxPostings = cap).collect().toSet

  private lazy val uncappedRef: Set[Row] =
    Dedup.crossCorpusPairs(existing, incoming, k = 3, threshold = 0.8)
      .collect().toSet

  /** The capped probe of the whole corpus built as one segment. */
  private lazy val cappedRef: Set[Row] = {
    val flat = java.nio.file.Files.createTempDirectory("shchainflat")
      .toString + "/idx"
    Dedup.buildShingleIndex(existing, flat)
    probe(flat, Cap)
  }

  /** Phrases of 5 tokens drawn from corpus documents. */
  private lazy val phrases: Seq[String] =
    existing.filter(col("doc_id") % 97 === 3).select("text").collect()
      .map(_.getString(0).split(" ").slice(2, 7).mkString(" ")).toSeq

  private def grep(phrase: String): Set[Long] =
    existing.filter(instr(concat(lit(" "), col("text"), lit(" ")),
      lit(s" $phrase ")) > 0).select("doc_id").collect()
      .map(_.getLong(0)).toSet

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Rewrites segment `v`'s postings as plain parquet without bucket
    * ids in the file names and drops its `buckets` file: the layout of
    * a segment written before postings were bucketed.
    */
  private def unbucket(dir: String, v: String): Unit = {
    val p = s"$dir/$v/postings"
    spark.read.parquet(p).repartition(2).write.parquet(s"$p.plain")
    assert(fs.delete(new Path(p), true))
    assert(fs.rename(new Path(s"$p.plain"), new Path(p)))
    assert(fs.delete(new Path(s"$dir/$v/buckets"), false))
  }

  /** Cuts segment `v`'s `buckets` file to its first (count) line. */
  private def legacyMeta(dir: String, v: String): Unit = {
    val p = new Path(s"$dir/$v/buckets")
    val first = PointerFile.read(fs, p).linesIterator.next()
    val out = fs.create(p, true)
    try out.write(first.getBytes("UTF-8")) finally out.close()
  }

  /** Builds the chain — segment i holds the docs with doc_id mod n = i
    * and sizes its buckets with `perBucket(i)` — converts segment `pre`
    * to the pre-bucketing layout and cuts segment `legacy`'s metadata,
    * then checks the chain read, the probes and the search.
    */
  private def check(perBucket: Seq[Long], pre: Option[Int],
                    legacy: Option[Int]): Boolean = {
    val n = perBucket.size
    val dir = java.nio.file.Files.createTempDirectory("shchain")
      .toString + "/idx"
    def slice(i: Int) = existing.filter(col("doc_id") % n === i)
    Dedup.buildShingleIndex(slice(0), dir, 3, perBucket.head)
    (1 until n).foreach(i =>
      Dedup.appendShingleIndex(dir, slice(i), 3, None, perBucket(i)))
    val segs = SegmentedIndex.segments(spark, dir,
      SegmentedIndex.currentVersion(spark, dir))
    assert(segs.size === n)
    pre.foreach(i => unbucket(dir, segs(i)))
    legacy.filterNot(pre.contains).foreach(i => legacyMeta(dir, segs(i)))
    val what = s"perBucket=$perBucket pre=$pre legacy=$legacy"

    // the chain scan: one group per distinct bucket count (the test
    // segments are far below the per-task bound), one for the segment
    // with no recorded postings count and one for the pre-bucketing
    // segment, each scan BUCKETED where the group is
    // (auto-disabling off, so a count reads by bucket id and would miss
    // a file whose bucket id is past its group's count), and its rows
    // are exactly the segments' rows. Groups form in chain order, so a
    // segment with no recorded postings count that sits between two
    // segments of its bucket count also splits their group in two.
    val cut = legacy.filterNot(pre.contains)
    def bucketCount(i: Int) =
      PointerFile.read(fs, new Path(s"$dir/${segs(i)}/buckets"))
        .linesIterator.next().toInt
    val counted = segs.indices.filterNot(i => pre.contains(i) ||
      cut.contains(i))
    val counts = counted.map(bucketCount)
    val splits = cut.count { l =>
      val same = counted.filter(bucketCount(_) == bucketCount(l))
      same.exists(_ < l) && same.exists(_ > l)
    }
    val perSegment = segs.map(v =>
      spark.read.parquet(s"$dir/$v/postings").count()).sum
    withConf("spark.sql.sources.bucketing.autoBucketedScan.enabled" ->
        "false") {
      val groups = Dedup.readPostingsGroups(spark, dir, segs)
      assert(groups.size ===
        counts.distinct.size + cut.size + pre.size + splits, what)
      val bucketed = groups.flatMap(_.queryExecution.executedPlan
        .collect { case s: FileSourceScanExec => s.bucketedScan })
      assert(bucketed.count(identity) ===
        counts.distinct.size + cut.size + splits, what)
      // count(shingle), not count(): a scan that reads no column is
      // never bucketed
      assert(groups.map(_.agg(count(col("shingle"))).head().getLong(0))
        .sum === perSegment, what)
    }

    // no broadcast: each group's join takes the shard into its own
    // bucket partitioning, so a row read in the wrong bucket would
    // lose its pairs
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      assert(probe(dir, Int.MaxValue) === uncappedRef, s"uncapped, $what")
      assert(probe(dir, Cap) === cappedRef, s"capped, $what")
    }
    phrases.foreach { ph =>
      val got = Dedup.searchShingleIndex(spark, dir, ph, existing)
        .collect().map(_.getLong(0)).toSet
      assert(got === grep(ph), s"search '$ph', $what")
    }
    true
  }

  test("a mixed chain: 4 segments of 3 bucket counts, one pre-bucketing " +
       "and one legacy-metadata segment") {
    assert(uncappedRef.nonEmpty && cappedRef.nonEmpty && phrases.nonEmpty)
    assert(uncappedRef !== cappedRef, "the cap dropped nothing")
    check(Seq(Dedup.BucketRows, 2500L, 6000L, 2500L), Some(2), Some(1))
  }

  test("a legacy-metadata segment between two segments of its bucket " +
       "count") {
    check(Seq(2500L, 2500L, 2500L, 2500L, Dedup.BucketRows), None, Some(2))
  }

  test("scan groups: one per bucket count, split in chain order where " +
       "a group's postings per bucket would pass the task bound") {
    val m = Dedup.BucketRows / 1000
    val segs: Seq[(String, Option[(Int, Option[Long])])] = Seq(
      "a" -> Some((1, Some(600 * m))), "b" -> Some((1, Some(300 * m))),
      "c" -> Some((4, Some(2000 * m))), "d" -> Some((1, Some(200 * m))),
      "e" -> None, "f" -> Some((1, None)), "g" -> Some((1, Some(50 * m))),
      "h" -> Some((4, Some(1600 * m))), "i" -> None,
      "j" -> Some((1, Some(1500 * m))), "k" -> Some((1, Some(10 * m))))
    assert(Dedup.scanGroups(segs) === Seq(
      None -> Seq("e", "i"),
      Some(1) -> Seq("a", "b"), Some(1) -> Seq("d"), Some(1) -> Seq("f"),
      Some(1) -> Seq("g"), Some(1) -> Seq("j"), Some(1) -> Seq("k"),
      Some(4) -> Seq("c", "h")))
    // a uniform chain within the bound is one group at any length
    assert(Dedup.scanGroups((1 to 50).map(i =>
        s"s$i" -> Some((2, Some(20 * m))))) ===
      Seq(Some(2) -> (1 to 50).map(i => s"s$i")))
  }

  test("property: the chain read of 1-5 segments of mixed layouts keeps " +
       "every row, and probe and search equal the recompute") {
    val chainGen = for {
      n <- Gen.choose(1, 5)
      perBucket <- Gen.listOfN(n,
        Gen.oneOf(Dedup.BucketRows, 2500L, 6000L))
      pre <- Gen.frequency(2 -> Gen.choose(0, n - 1).map(Some(_)),
        1 -> Gen.const(None))
      legacy <- Gen.frequency(2 -> Gen.choose(0, n - 1).map(Some(_)),
        1 -> Gen.const(None))
    } yield (perBucket, pre, legacy)
    val prop = Prop.forAllNoShrink(chainGen) {
      case (perBucket, pre, legacy) => check(perBucket, pre, legacy)
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(result.passed, result.status.toString)
  }
}
