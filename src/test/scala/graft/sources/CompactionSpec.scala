package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.SimilarityQueries
import graft.sim.Similarity
import graft.text.Dedup

/** Compaction — the third verb of the standing-index lifecycle
  * (build/append/compact). The oracles (driver gate) hash-verify the
  * post-compact PROBE answers; this spec pins what the oracle can't
  * see: the chain really folds to one segment, probes are bit-equal
  * before/after (every family), the file population actually shrinks
  * (the latency motive), the exactly-once tag history survives the
  * fold, and the protocol-level fence/GC contract holds.
  */
class CompactionSpec extends SparkSpec {

  private def fsOf(dir: String) = new Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def fresh(dir: String): String = {
    val fs = fsOf(dir)
    if (fs.exists(new Path(dir))) fs.delete(new Path(dir), true)
    dir
  }

  private def segCount(dir: String): Int =
    SegmentedIndex.segments(spark, dir,
      SegmentedIndex.currentVersion(spark, dir)).size

  private def nVersions(dir: String): Int = {
    SegmentedIndex.awaitGc() // async vacuum since r14
    fsOf(dir).listStatus(new Path(dir))
      .count(st => st.isDirectory && st.getPath.getName.startsWith("v-"))
  }

  private def dataFiles(path: String): Seq[String] = {
    val fs = fsOf(path)
    val it = fs.listFiles(new Path(path), true)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    while (it.hasNext) {
      val f = it.next().getPath
      if (f.getName.endsWith(".parquet")) out += f.toString
    }
    out.toSeq
  }

  private def assertSame(a: DataFrame, b: DataFrame, what: String): Unit =
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      s"$what diverged across compaction")

  // ---------------- protocol level ----------------

  test("commitCompact folds the chain to one segment, carries the " +
       "chain's tags in _TAGS, and the parent stays GC-pinned for " +
       "in-flight readers") {
    val root = fresh("/tmp/graft_compact_proto")
    val fs = fsOf(root)
    def writeData(v: String): Unit = {
      val out = fs.create(new Path(s"$root/$v/data"), true)
      try out.write("x".getBytes("UTF-8")) finally out.close()
    }
    val v1 = "v-0000000000010-base0001"
    val v2 = "v-0000000000020-app00001"
    val v3 = "v-0000000000030-app00002"
    writeData(v1)
    SegmentedIndex.commitBuild(spark, root, v1)
    writeData(v2)
    SegmentedIndex.commitAppend(spark, root, v2, v1, Seq(v1),
      Some("s#0"))
    writeData(v3)
    SegmentedIndex.commitAppend(spark, root, v3, v2, Seq(v1, v2),
      Some("s#1"))
    val chainTags = SegmentedIndex.committedTags(fs, root,
      Seq(v1, v2, v3))
    assert(chainTags === Set("s#0", "s#1"))
    val v4 = "v-0000000000040-compact1"
    writeData(v4)
    SegmentedIndex.commitCompact(spark, root, v4, v3, chainTags)
    assert(SegmentedIndex.currentVersion(spark, root) === v4)
    // a compacted base is its own only segment
    assert(SegmentedIndex.segments(spark, root, v4) === Seq(v4))
    // the folded chain's exactly-once history survives the fold —
    // a replayed micro-batch must still see its tag as committed
    assert(SegmentedIndex.tagCommitted(spark, root, Seq(v4),
      Some("s#0")))
    assert(SegmentedIndex.tagCommitted(spark, root, Seq(v4),
      Some("s#1")))
    assert(!SegmentedIndex.tagCommitted(spark, root, Seq(v4),
      Some("s#2")))
    // keep=2 keeps v4+v3; v3's manifest pins v1, v2 — a reader that
    // resolved _CURRENT=v3 before the flip still finds its whole chain
    Seq(v1, v2, v3, v4).foreach(v =>
      assert(fs.exists(new Path(s"$root/$v")), s"$v collected early"))
    // and a compacted version's tags chain FORWARD: compacting a chain
    // whose base is itself a compacted version unions both histories
    val v5 = "v-0000000000050-app00003"
    writeData(v5)
    SegmentedIndex.commitAppend(spark, root, v5, v4, Seq(v4),
      Some("s#2"))
    val tags2 = SegmentedIndex.committedTags(fs, root, Seq(v4, v5))
    assert(tags2 === Set("s#0", "s#1", "s#2"))
  }

  test("commitCompact fences against a concurrent writer like " +
       "commitAppend does") {
    val root = fresh("/tmp/graft_compact_fence")
    val fs = fsOf(root)
    def writeData(v: String): Unit = {
      val out = fs.create(new Path(s"$root/$v/data"), true)
      try out.write("x".getBytes("UTF-8")) finally out.close()
    }
    val v1 = "v-0000000000010-base0001"
    writeData(v1)
    SegmentedIndex.commitBuild(spark, root, v1)
    // compactor reads its parent...
    val parent = SegmentedIndex.currentVersion(spark, root)
    // ...an appender commits meanwhile...
    val vB = "v-0000000000020-writerB1"
    writeData(vB)
    SegmentedIndex.commitAppend(spark, root, vB, v1, Seq(v1), None)
    // ...the compactor's flip would erase vB — it must fail loudly
    val vC = "v-0000000000030-compact1"
    writeData(vC)
    val e = intercept[IllegalArgumentException] {
      SegmentedIndex.commitCompact(spark, root, vC, parent, Set.empty)
    }
    assert(e.getMessage.contains("concurrent writer"))
    assert(SegmentedIndex.currentVersion(spark, root) === vB)
  }

  // ---------------- shingle family ----------------

  test("shingle compaction: probe bit-equal before/after, chain folds " +
       "3→1, postings land one file per bucket, folded tags still " +
       "no-op a replayed append") {
    val dir = fresh("/tmp/graft_compact_shingle_spec")
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val incoming = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    Dedup.buildShingleIndex(docs.filter(col("doc_id") % 3 =!= 0), dir)
    Dedup.appendShingleIndex(dir, docs.filter(col("doc_id") % 6 === 0),
      tag = Some("s#0"))
    Dedup.appendShingleIndex(dir, docs.filter(col("doc_id") % 6 === 3),
      tag = Some("s#1"))
    assert(segCount(dir) === 3)
    val before = Dedup.probeShingleIndex(dir, incoming, k = 3,
      threshold = 0.8).cache()
    val cappedBefore = Dedup.probeShingleIndex(dir, incoming, k = 3,
      threshold = 0.8, maxPostings = 50).cache()
    assert(before.count() > 0)
    // total postings files across the three segments, pre-fold
    val preFold = SegmentedIndex.segments(spark, dir,
        SegmentedIndex.currentVersion(spark, dir))
      .map(v => dataFiles(s"$dir/$v/postings").size).sum
    Dedup.compactShingleIndex(spark, dir)
    assert(segCount(dir) === 1, "chain did not fold to one segment")
    val compactVer = SegmentedIndex.currentVersion(spark, dir)
    assertSame(before,
      Dedup.probeShingleIndex(dir, incoming, k = 3, threshold = 0.8),
      "uncapped shingle probe")
    // capped probe too: the compacted segment's recomputed df must
    // equal the segmented probe's summed-across-segments df
    assertSame(cappedBefore,
      Dedup.probeShingleIndex(dir, incoming, k = 3, threshold = 0.8,
        maxPostings = 50),
      "df-capped shingle probe")
    before.unpersist()
    cappedBefore.unpersist()
    // bucketed rewrite: at most one data file per bucket, and fewer
    // files than the chain carried (the latency motive)
    val postFiles = dataFiles(s"$dir/$compactVer/postings")
    val declaredBuckets = graft.sources.PointerFile.read(
      new org.apache.hadoop.fs.Path(dir).getFileSystem(
        spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(s"$dir/$compactVer/buckets"))
      .linesIterator.next().trim.toInt
    assert(postFiles.size <= declaredBuckets,
      s"${postFiles.size} postings files > $declaredBuckets buckets")
    assert(postFiles.size < preFold,
      s"compaction did not reduce postings files: $postFiles vs $preFold")
    // the folded chain's tags survive: a checkpoint replay of an
    // ingested micro-batch must no-op, not re-append its docs
    val vBefore = nVersions(dir)
    Dedup.appendShingleIndex(dir, docs.filter(col("doc_id") % 6 === 0),
      tag = Some("s#0"))
    assert(nVersions(dir) === vBefore,
      "replayed tag re-appended after compaction")
    // compacting an already-compact index is a no-op
    Dedup.compactShingleIndex(spark, dir)
    assert(nVersions(dir) === vBefore)
  }

  // ---------------- IVF families ----------------

  test("IVF raw compaction: probe bit-equal, 3→1 segments, one file " +
       "per cell") {
    val dir = fresh("/tmp/graft_compact_ivf_spec")
    val vecs = SimilarityQueries.doubleVecs(spark, sf)
    Similarity.buildIvfIndex(
      vecs.filter(pmod(col("vec_id"), lit(3)) =!= 0), dir, nlist = 8)
    Similarity.appendIvfIndex(dir,
      vecs.filter(pmod(col("vec_id"), lit(6)) === 0), tag = Some("s#0"))
    Similarity.appendIvfIndex(dir,
      vecs.filter(pmod(col("vec_id"), lit(6)) === 3), tag = Some("s#1"))
    assert(segCount(dir) === 3)
    val q = vecs.filter(col("vec_id") < 8)
    val before = Similarity.ivfProbeIndexed(dir, q, 5).cache()
    assert(before.count() > 0)
    Similarity.compactIvfIndex(spark, dir)
    assert(segCount(dir) === 1)
    assertSame(before, Similarity.ivfProbeIndexed(dir, q, 5),
      "raw IVF probe")
    before.unpersist()
    // one file per occupied hive cell dir
    val ver = SegmentedIndex.currentVersion(spark, dir)
    val fs = fsOf(dir)
    fs.listStatus(new Path(s"$dir/$ver/cells"))
      .filter(_.getPath.getName.startsWith("centroid_id="))
      .foreach { cell =>
        val n = dataFiles(cell.getPath.toString).size
        assert(n === 1, s"${cell.getPath.getName}: $n files after compact")
      }
    // tags carried: a replayed tagged append no-ops
    val vBefore = nVersions(dir)
    Similarity.appendIvfIndex(dir,
      vecs.filter(pmod(col("vec_id"), lit(6)) === 0), tag = Some("s#0"))
    assert(nVersions(dir) === vBefore,
      "replayed tag re-appended after compaction")
  }

  test("PQ and SQ8 compaction ride the same routine: trained state " +
       "copies forward and probes stay bit-equal") {
    val vecs = SimilarityQueries.doubleVecs(spark, sf)
    val q = vecs.filter(col("vec_id") < 8)
    // PQ: codebooks must survive the fold
    val pqDir = fresh("/tmp/graft_compact_pq_spec")
    Similarity.buildIvfPqIndex(
      vecs.filter(pmod(col("vec_id"), lit(3)) =!= 0), pqDir,
      m = 8, ksub = 16, nlist = 8)
    Similarity.appendIvfPqIndex(pqDir,
      vecs.filter(pmod(col("vec_id"), lit(3)) === 0))
    val pqBefore = Similarity.ivfPqProbeIndexed(pqDir, q, 5).cache()
    assert(pqBefore.count() > 0)
    Similarity.compactIvfIndex(spark, pqDir)
    assert(segCount(pqDir) === 1)
    val pqVer = SegmentedIndex.currentVersion(spark, pqDir)
    assert(fsOf(pqDir).exists(new Path(s"$pqDir/$pqVer/codebooks")),
      "PQ codebooks lost in compaction")
    assertSame(pqBefore, Similarity.ivfPqProbeIndexed(pqDir, q, 5),
      "PQ ADC probe")
    pqBefore.unpersist()
    // SQ8: codes-only cells union exactly
    val sqDir = fresh("/tmp/graft_compact_sq8_spec")
    Similarity.buildIvfSq8Index(
      vecs.filter(pmod(col("vec_id"), lit(3)) =!= 0), sqDir, nlist = 8)
    Similarity.appendIvfSq8Index(sqDir,
      vecs.filter(pmod(col("vec_id"), lit(3)) === 0))
    val sqBefore = Similarity.ivfSq8ProbeIndexed(sqDir, q, 5).cache()
    assert(sqBefore.count() > 0)
    Similarity.compactIvfIndex(spark, sqDir)
    assert(segCount(sqDir) === 1)
    assertSame(sqBefore, Similarity.ivfSq8ProbeIndexed(sqDir, q, 5),
      "SQ8 probe")
    sqBefore.unpersist()
  }
}
