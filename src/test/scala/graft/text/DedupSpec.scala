package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.TextQueries

/** Planted-duplicate recall for the dedup family (FIXTURES-style golden
  * expectations: plants are deterministic, so recall is checkable).
  */
class DedupSpec extends SparkSpec {

  private def planted: DataFrame = TextQueries.plantedDocs(spark, sf)

  private def plantedExactIds = planted.filter(col("doc_id") >= 1000000L &&
    col("doc_id") < 2000000L).select((col("doc_id") - 1000000L).as("orig"))
  private def plantedNearIds = planted.filter(col("doc_id") >= 2000000L)
    .select((col("doc_id") - 2000000L).as("orig"))

  test("exact dedup groups planted exact copies with their originals") {
    val res = Dedup.exact(planted)
    val nExact = plantedExactIds.count()
    assert(res.filter(col("n_copies") >= 2).count() === nExact)
    // representatives are the original ids (min of the pair)
    val reps = res.filter(col("n_copies") >= 2).select("rep_id")
    assert(reps.except(plantedExactIds.select(col("orig").as("rep_id")))
      .isEmpty)
  }

  test("ngram jaccard finds every planted near-dup pair") {
    val pairs = Dedup.ngramJaccardPairs(planted, k = 3, threshold = 0.8,
      maxPostings = 100000).cache()
    val near = plantedNearIds.collect().map(_.getLong(0)).toSet
    val found = pairs
      .filter(col("b_id") >= 2000000L && col("a_id") < 1000000L)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    near.foreach { id =>
      assert(found.contains((id, id + 2000000L)),
        s"missing planted near pair for doc $id")
    }
    // jaccard of an appended-one-token copy must be high but < 1
    val jacs = pairs.filter(col("b_id") >= 2000000L &&
        col("a_id") === col("b_id") - 2000000L)
      .select("jaccard").collect().map(_.getDouble(0))
    assert(jacs.forall(j => j >= 0.8 && j < 1.0))
  }

  test("minhash LSH finds all exact pairs and ≥90% of near pairs") {
    val pairs = Dedup.minHashLshPairs(planted, numHashes = 16, bands = 4,
      k = 3, threshold = 0.7).cache()
    val found = pairs.select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = plantedExactIds.collect().map(_.getLong(0)).toSet
    exact.foreach { id =>
      assert(found.contains((id, id + 1000000L)),
        s"identical signatures must always collide (doc $id)")
    }
    val near = plantedNearIds.collect().map(_.getLong(0)).toSet
    val nearFound = near.count(id => found.contains((id, id + 2000000L)))
    assert(nearFound >= (near.size * 0.9).toInt,
      s"minhash recall too low: $nearFound/${near.size}")
  }

  test("simhash finds planted exact pairs at hamming 0") {
    val pairs = Dedup.simHashPairs(planted, maxHamming = 3).cache()
    val zero = pairs.filter(col("hamming") === 0)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = plantedExactIds.collect().map(_.getLong(0)).toSet
    exact.foreach { id =>
      assert(zero.contains((id, id + 1000000L)),
        s"exact copy must have hamming 0 (doc $id)")
    }
  }

  test("dupClusters: transitive chains collapse to the min id") {
    import spark.implicits._
    // chain 1-2-3-4 (no direct 1-4 edge), pair {10,11}, singleton edge-less
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("a_id", "b_id")
    val got = Dedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("dupClusters converges on the planted corpus and covers all pair ids") {
    val pairs = Dedup.ngramJaccardPairs(planted, 3, 0.8, Int.MaxValue).cache()
    val clusters = Dedup.dupClusters(pairs).cache()
    val pairIds = pairs.select(col("a_id").as("id"))
      .union(pairs.select(col("b_id"))).distinct()
    assert(clusters.count() === pairIds.count())
    // every cluster id is itself a member of the cluster (a valid rep)
    val badRep = clusters.as("c")
      .join(clusters.select(col("doc_id").as("cluster_id")).distinct()
        .as("r"), Seq("cluster_id"), "left_anti")
    assert(badRep.isEmpty)
  }

  test("cross-corpus pairs == within-union pairs restricted to the boundary") {
    val existing = planted.filter(col("doc_id") < 1000000L)
    val incoming = planted.filter(col("doc_id") >= 1000000L)
    val cross = Dedup.crossCorpusPairs(existing, incoming, k = 3,
        threshold = 0.8)
      .select("a_id", "b_id", "n_common", "jaccard")
    // existing ids < 1M <= incoming ids, so a<b ordering aligns and the
    // union-pairs formulation restricted to the boundary is the spec
    val viaUnion = Dedup.ngramJaccardPairs(planted, k = 3,
        threshold = 0.8, maxPostings = Int.MaxValue)
      .filter(col("a_id") < 1000000L && col("b_id") >= 1000000L)
      .select("a_id", "b_id", "n_common", "jaccard")
    assert(cross.count() > 0)
    assert(cross.except(viaUnion).isEmpty &&
      viaUnion.except(cross).isEmpty)
  }

  test("persisted shingle-index probe == cross-corpus recompute; " +
       "rebuild keeps two versions") {
    val dir = java.nio.file.Files.createTempDirectory("shidx").toString
    val existing = planted.filter(col("doc_id") < 1000000L)
    val incoming = planted.filter(col("doc_id") >= 1000000L)
    Dedup.buildShingleIndex(existing, dir)
    val probed = Dedup.probeShingleIndex(dir, incoming, k = 3,
      threshold = 0.8)
    val recomputed = Dedup.crossCorpusPairs(existing, incoming, k = 3,
      threshold = 0.8)
    assert(probed.count() > 0)
    assert(probed.except(recomputed).isEmpty &&
      recomputed.except(probed).isEmpty)
    // rebuild: _CURRENT flips, superseded version stays (keep-2), a
    // third build GCs the first
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def versions = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v-"))
      .map(_.getPath.getName).sorted.toSeq
    val v1 = versions
    Dedup.buildShingleIndex(existing, dir)
    val v2 = versions
    assert(v2.size === 2 && v2.contains(v1.head))
    Dedup.buildShingleIndex(existing, dir)
    graft.sources.SegmentedIndex.awaitGc() // async vacuum since r14
    val v3 = versions
    assert(v3.size === 2 && !v3.contains(v1.head))
    // probe still answers identically from the newest version
    assert(Dedup.probeShingleIndex(dir, incoming, k = 3, threshold = 0.8)
      .except(recomputed).isEmpty)
  }

  test("probe joins the standing postings WITHOUT shuffling them: one " +
       "bucketed postings scan at chain lengths 1-4, no catalog table") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val dir = java.nio.file.Files.createTempDirectory("shidxb").toString
    val existing = planted.filter(col("doc_id") < 1000000L)
    val incoming = planted.filter(col("doc_id") >= 1000000L)
    // a uniform chain: every segment sizes to the same bucket count
    def slice(i: Int) = existing.filter(col("doc_id") % 4 === i)
    // a pair's Jaccard depends on its two docs only, so the chain of
    // the first `len` slices answers the full recompute's pairs whose
    // a_id is in those slices
    val expected = Dedup.crossCorpusPairs(existing, incoming, k = 3,
      threshold = 0.8).collect().toSet
    def expectedAt(len: Int) = expected.filter(_.getLong(0) % 4 < len)
    def noTables(after: String): Unit =
      assert(spark.sql("SHOW TABLES").collect().map(_.getString(1))
        .filter(_.startsWith("graft_shidx_")).isEmpty, after)
    object Aqe extends AdaptiveSparkPlanHelper
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    // disable auto-broadcast: at test SF the shard side would
    // broadcast (also shuffle-free), hiding the bucket co-location the
    // bucketed read exists for — the big-shard regime at lake scale
    spark.conf.set(key, "-1")
    def segs = Dedup.indexSegments(spark, dir,
      graft.sources.SegmentedIndex.currentVersion(spark, dir))
    // `len` slices indexed, in `nSegs` segments
    def assertColocated(len: Int, nSegs: Int): Unit = {
      assert(segs.size === nSegs)
      val probed = Dedup.probeShingleIndex(dir, incoming, k = 3,
        threshold = 0.8)
      assert(probed.collect().toSet === expectedAt(len), s"chain $len")
      noTables(s"probe at chain $len")
      val exec = probed.queryExecution.executedPlan
      val postingsScans = Aqe.collect(exec) {
        case s: FileSourceScanExec
          if s.relation.location.rootPaths.forall(_.getName == "postings") =>
          s
      }
      assert(postingsScans.size === 1, s"chain $len:\n$exec")
      assert(postingsScans.head.bucketedScan, s"chain $len:\n$exec")
      assert(postingsScans.head.relation.location.rootPaths.size === nSegs)
      // AQE's toString prints the Final AND Initial plans — count
      // exchanges only in the final (executed) section
      val plan = exec.toString.split("== Initial Plan ==")(0)
      assert(plan.contains("Bucketed: true"), plan)
      // the ONLY shingle-key exchange is the incoming shard moving
      // into the bucket partitioning; the postings side reads in place
      val shuffles = plan.linesIterator.count(
        _.contains("Exchange hashpartitioning(shingle"))
      assert(shuffles === 1,
        s"expected only the shard-side shingle shuffle, got $shuffles:\n" +
          plan)
    }
    try {
      Dedup.buildShingleIndex(slice(0), dir)
      noTables("build")
      assertColocated(1, 1)
      (1 until 4).foreach { i =>
        Dedup.appendShingleIndex(dir, slice(i))
        noTables(s"append $i")
        assertColocated(i + 1, i + 1)
      }
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val counts = segs.map(v => graft.sources.PointerFile.read(fs,
        new org.apache.hadoop.fs.Path(s"$dir/$v/buckets"))
        .linesIterator.next())
      assert(counts.distinct.size === 1, s"not uniform: $counts")
      Dedup.compactShingleIndex(spark, dir)
      noTables("fold")
      assertColocated(4, 1)
    } finally spark.conf.set(key, prev)
  }

  test("append ≡ flat: probing a built+appended index equals the " +
       "cross-corpus recompute over the union; manifest chains; tagged " +
       "replay no-ops") {
    val dir = java.nio.file.Files.createTempDirectory("shidxapp").toString
    val existing = planted.filter(col("doc_id") < 1000000L)
    val incoming = planted.filter(col("doc_id") >= 1000000L)
    val baseSlice = existing.filter(col("doc_id") % 3 =!= 0)
    val delta = existing.filter(col("doc_id") % 3 === 0)
    Dedup.buildShingleIndex(baseSlice, dir)
    Dedup.appendShingleIndex(dir, delta, tag = Some("b0"))
    val cur = Dedup.indexSegments(spark,
      dir, graft.sources.PointerFile.read(
        new org.apache.hadoop.fs.Path(dir, "_CURRENT")
          .getFileSystem(spark.sparkContext.hadoopConfiguration),
        new org.apache.hadoop.fs.Path(dir, "_CURRENT")))
    assert(cur.size === 2, s"expected base+delta segments: $cur")
    val probed = Dedup.probeShingleIndex(dir, incoming, k = 3,
      threshold = 0.8)
    val recomputed = Dedup.crossCorpusPairs(existing, incoming, k = 3,
      threshold = 0.8)
    assert(probed.count() > 0)
    assert(probed.except(recomputed).isEmpty &&
      recomputed.except(probed).isEmpty,
      "segmented probe diverged from the flat recompute")
    // capped probe sums df ACROSS segments: same answer as a capped
    // probe of a REBUILT (single-segment) full index
    val capped = Dedup.probeShingleIndex(dir, incoming, k = 3,
      threshold = 0.8, maxPostings = 50)
    val rebuilt = java.nio.file.Files
      .createTempDirectory("shidxflat").toString
    Dedup.buildShingleIndex(existing, rebuilt)
    val cappedFlat = Dedup.probeShingleIndex(rebuilt, incoming, k = 3,
      threshold = 0.8, maxPostings = 50)
    assert(capped.except(cappedFlat).isEmpty &&
      cappedFlat.except(capped).isEmpty,
      "cross-segment df-cap diverged from the rebuilt index's cap")
    // exactly-once: a replayed tag commits nothing (no new version)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def nVersions = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .count(st => st.isDirectory && st.getPath.getName.startsWith("v-"))
    val before = nVersions
    Dedup.appendShingleIndex(dir, delta, tag = Some("b0"))
    assert(nVersions === before, "replayed tagged append committed")
    // and an empty delta commits nothing either
    Dedup.appendShingleIndex(dir, delta.filter(lit(false)))
    assert(nVersions === before, "empty append committed a segment")
  }

  test("streamed ingest runs ≥2 real micro-batches and the probe " +
       "equals the flat cross-corpus recompute") {
    val probed = TextQueries.queries
      .find(_.name == "dedup_stream_ingest").get.fn(spark, sf)
    // the query's own plant (cf. dedup_cross_corpus), not plantedDocs
    val existing = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text")
    val incoming = existing.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .unionAll(existing.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" qq17")).as("text")))
    val recomputed = Dedup.crossCorpusPairs(existing, incoming, k = 3,
      threshold = 0.8).select("a_id", "b_id", "n_common", "jaccard")
    assert(probed.count() > 0)
    assert(probed.select("a_id", "b_id", "n_common", "jaccard")
      .except(recomputed).isEmpty &&
      recomputed.except(probed.select("a_id", "b_id", "n_common",
        "jaccard")).isEmpty,
      "streamed-ingest probe diverged from the flat recompute")
    // per-pid scratch root (QueryPack.scratch), not the stale pre-r12
    // fixed /tmp path
    val idxDir =
      graft.ops.QueryPack.scratch("shingle_stream", sf) + "/index"
    val fs = new org.apache.hadoop.fs.Path(idxDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = graft.sources.PointerFile.read(fs,
      new org.apache.hadoop.fs.Path(idxDir, "_CURRENT"))
    val segs = Dedup.indexSegments(spark, idxDir, cur)
    assert(segs.size >= 3,
      s"expected base + ≥2 streamed micro-batch segments: $segs")
  }

  test("df-cap defines similarity over the CAPPED universe: exact dups " +
       "survive a cap that drops their shared boilerplate") {
    import spark.implicits._
    // every doc: a shared header (all its shingles have df = corpus
    // size, far over the cap) + an id-bearing body (df ≈ 2). A cap
    // that counts dropped shingles in sizes but not intersections
    // would score the copy pairs 6/(n+n-6) ≪ τ and lose them
    // (SkewProbe r7: 327 → 40 pairs on the skewed sf1 corpus).
    val boiler = "terms of use all rights reserved redistribution " +
      "requires permission from the original publisher"
    def text(i: Long) = s"$boiler document body $i alpha$i beta$i " +
      s"gamma$i delta$i epsilon$i"
    val corpus = (0L until 60L).map(i => (i, text(i)))
      .toDF("doc_id", "text")
    val copies = (0L until 10L).map(i => (i + 1000L, text(i)))
      .toDF("doc_id", "text")

    // persisted-index path
    val dir = java.nio.file.Files.createTempDirectory("shidxcap").toString
    Dedup.buildShingleIndex(corpus, dir)
    val probed = Dedup.probeShingleIndex(dir, copies, k = 3,
      threshold = 0.8, maxPostings = 10)
      .select("a_id", "b_id", "jaccard").collect()
    assert(probed.length === 10, probed.mkString(","))
    assert(probed.forall(r => r.getLong(1) === r.getLong(0) + 1000L
      && r.getDouble(2) === 1.0), probed.mkString(","))

    // in-corpus naive path under the same cap
    val pairs = Dedup.ngramJaccardPairs(corpus.unionAll(copies), k = 3,
      threshold = 0.8, maxPostings = 10)
      .select("a_id", "b_id", "jaccard").collect()
    assert(pairs.length === 10 && pairs.forall(r =>
      r.getLong(1) === r.getLong(0) + 1000L && r.getDouble(2) === 1.0),
      pairs.mkString(","))
  }

  test("prefix paths on an EMPTY corpus return empty, not NPE") {
    // ADVICE r4: the driver-computed prefix bound was max over zero
    // rows → NULL → getLong NPE; an empty input must degrade to an
    // empty result like every other path
    val empty = planted.filter(lit(false))
    assert(Dedup.containmentPairsPrefix(empty, k = 3,
      threshold = 0.9).isEmpty)
  }

  test("prefix-filtered containment == naive containment (lossless)") {
    // the wrapped-chrome plant from the dedup_containment query: every
    // 8th doc embedded whole inside a header/footer wrapper
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text")
    val wrapped = docs.filter(col("doc_id") % 8 === 0)
      .select((col("doc_id") + 3000000L).as("doc_id"),
        concat(lit("wraphdr alpha beta "), col("text"),
          lit(" gamma delta wrapftr")).as("text"))
    val corpus = docs.unionAll(wrapped)
    val naive = Dedup.containmentPairs(corpus, k = 3, threshold = 0.9,
      maxPostings = Int.MaxValue)
    val prefix = Dedup.containmentPairsPrefix(corpus, k = 3,
      threshold = 0.9)
    assert(naive.count() > 0)
    assert(naive.except(prefix).isEmpty && prefix.except(naive).isEmpty)
    // every original is fully contained in its wrapped copy
    val expected = wrapped.select((col("doc_id") - 3000000L).as("a_id"))
    val full = naive.filter(col("containment") === 1.0 &&
      col("b_id") >= 3000000L && col("a_id") === col("b_id") - 3000000L)
    assert(expected.except(full.select("a_id")).isEmpty)
  }
}
