package graft.sim

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.SimilarityQueries

/** Persisted IVF index: probing reads only the probed cells (static
  * partition pruning) and returns exactly what the in-memory IVF path
  * computes from the same trained centroids.
  */
class IvfIndexSpec extends SparkSpec {

  private def vecs = SimilarityQueries.doubleVecs(spark, sf)
  private val dir = "/tmp/graft_ivf_index_spec"

  test("indexed probe equals in-memory IVF with the same centroids") {
    Similarity.buildIvfIndex(vecs, dir, nlist = 16, sampleN = 2000,
      iters = 4)
    val queries = vecs.filter(col("vec_id") < 8)
    val indexed = Similarity.ivfProbeIndexed(dir, queries, 5)
    val cents = Similarity.trainCentroids(vecs, 16, 2000, 4)
    val direct = Similarity.ivfTopK(vecs, queries, 5,
      centroids = Some(cents))
    assert(indexed.exceptAll(direct).isEmpty &&
           direct.exceptAll(indexed).isEmpty,
      "indexed probe diverged from in-memory IVF")
    assert(direct.count() > 0)
  }

  test("an array<float> column builds, appends and probes a raw, PQ " +
       "and SQ8 index row for row like its array<double> cast") {
    val floats = graft.sources.Tables.embeddings(spark, sf)
    assert(floats.schema("embedding").dataType.simpleString ===
      "array<float>")
    type V = org.apache.spark.sql.DataFrame
    val families = Seq[(String, (V, String) => Unit, (String, V) => Unit,
                         (String, V) => V)](
      ("raw", Similarity.buildIvfIndex(_, _, nlist = 16),
        Similarity.appendIvfIndex(_, _),
        Similarity.ivfProbeIndexed(_, _, 5, nprobe = 4)),
      ("pq", Similarity.buildIvfPqIndex(_, _, nlist = 16),
        Similarity.appendIvfPqIndex(_, _),
        Similarity.ivfPqProbeIndexed(_, _, 5, nprobe = 4)),
      ("sq8", Similarity.buildIvfSq8Index(_, _, nlist = 16),
        Similarity.appendIvfSq8Index(_, _),
        Similarity.ivfSq8ProbeIndexed(_, _, 5, nprobe = 4)))
    families.foreach { case (name, build, append, probe) =>
      def run(v: V) = {
        val d = java.nio.file.Files.createTempDirectory(s"ivf_$name")
          .toString + "/idx"
        build(v.filter(col("vec_id") % 2 === 0), d)
        append(d, v.filter(col("vec_id") % 2 === 1))
        probe(d, v.filter(col("vec_id") < 8)).collect().toSeq
          .map(_.toSeq.mkString(",")).sorted
      }
      val got = run(floats)
      assert(got.nonEmpty, name)
      assert(got === run(vecs), name)
    }
  }

  test("the probe scan is partition-pruned to the probed cells") {
    Similarity.buildIvfIndex(vecs, dir, nlist = 16)
    val queries = vecs.filter(col("vec_id") < 8)
    val probe = Similarity.ivfProbeIndexed(dir, queries, 5, nprobe = 2)
    val plan = probe.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator
      .find(l => l.contains("cells") && l.contains("PartitionFilters"))
      .getOrElse("")
    assert(scanLine.matches(".*PartitionFilters: \\[.*centroid_id.*\\].*"),
      s"no partition filter on the cells scan:\n$plan")
    // the index materialized a real multi-cell partitioning (empty
    // cells are LEGAL — training keeps a seed for cells that attract
    // no vectors — so this asserts structure, not exactly nlist dirs)
    val cellsTouched = spark.read
      .parquet(s"$dir/${Similarity.indexVersion(spark, dir)}/cells")
      .select("centroid_id").distinct().count()
    assert(cellsTouched > 2 && cellsTouched <= 16,
      s"unexpected cell count $cellsTouched")
  }

  test("rebuilds flip _CURRENT atomically; GC keeps the previous " +
       "version readable and drops older ones") {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fsys = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fsys.exists(p)) fsys.delete(p, true)
    def versions(): Set[String] = {
      graft.sources.PointerFile.awaitGc() // async vacuum since r14
      fsys.listStatus(p)
        .filter(_.isDirectory).map(_.getPath.getName).toSet
    }
    Similarity.buildIvfIndex(vecs, dir, nlist = 8)
    val v1 = Similarity.indexVersion(spark, dir)
    Similarity.buildIvfIndex(vecs, dir, nlist = 8)
    val v2 = Similarity.indexVersion(spark, dir)
    assert(v1 != v2, "rebuild reused a version dir")
    // keep-2: the superseded version stays for in-flight readers
    assert(versions() == Set(v1, v2), s"expected {v1,v2}: ${versions()}")
    Similarity.buildIvfIndex(vecs, dir, nlist = 8)
    val v3 = Similarity.indexVersion(spark, dir)
    assert(versions() == Set(v2, v3),
      s"GC should keep exactly the 2 newest: ${versions()}")
    // and the probe works against the new current
    assert(Similarity.ivfProbeIndexed(dir,
      vecs.filter(col("vec_id") < 4), 3).count() > 0)
  }

  private val appendDir = "/tmp/graft_ivf_append_spec"

  test("append ≡ flat assignment: probing a built+appended index " +
       "equals in-memory IVF over the union with the frozen centroids") {
    val p = new org.apache.hadoop.fs.Path(appendDir)
    val fsys = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fsys.exists(p)) fsys.delete(p, true)
    val base = vecs.filter(pmod(col("vec_id"), lit(3)) =!= 0)
    val delta = vecs.filter(pmod(col("vec_id"), lit(3)) === 0)
    Similarity.buildIvfIndex(base, appendDir, nlist = 16)
    Similarity.appendIvfIndex(appendDir, delta)
    val queries = vecs.filter(col("vec_id") < 8)
    val probed = Similarity.ivfProbeIndexed(appendDir, queries, 5)
    // frozen = the centroids the BASE build trained
    val cents = Similarity.readCentroids(spark, appendDir,
      Similarity.indexVersion(spark, appendDir))
    val direct = Similarity.ivfTopK(vecs, queries, 5,
      centroids = Some(cents))
    assert(probed.exceptAll(direct).isEmpty &&
           direct.exceptAll(probed).isEmpty,
      "append+probe diverged from flat assignment over the union")
    // candidates really span both segments
    val ver = Similarity.indexVersion(spark, appendDir)
    assert(Similarity.indexSegments(spark, appendDir, ver).size == 2)
  }

  test("appended probe stays partition-pruned across segments") {
    val queries = vecs.filter(col("vec_id") < 8)
    val probe = Similarity.ivfProbeIndexed(appendDir, queries, 5,
      nprobe = 2)
    val plan = probe.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator
      .find(l => l.contains("cells") && l.contains("PartitionFilters"))
      .getOrElse("")
    assert(scanLine.matches(".*PartitionFilters: \\[.*centroid_id.*\\].*"),
      s"no partition filter on the multi-segment cells scan:\n$plan")
  }

  test("GC never collects a segment a kept manifest references; a " +
       "later rebuild's GC eventually does") {
    val p = new org.apache.hadoop.fs.Path(appendDir)
    val fsys = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fsys.exists(p)) fsys.delete(p, true)
    def versions(): Set[String] = {
      graft.sources.PointerFile.awaitGc() // async vacuum since r14
      fsys.listStatus(p)
        .filter(_.isDirectory).map(_.getPath.getName).toSet
    }
    val base = vecs.filter(pmod(col("vec_id"), lit(3)) =!= 0)
    val delta = vecs.filter(pmod(col("vec_id"), lit(3)) === 0)
    Similarity.buildIvfIndex(base, appendDir, nlist = 8)
    val v1 = Similarity.indexVersion(spark, appendDir)
    Similarity.appendIvfIndex(appendDir, delta)
    val v2 = Similarity.indexVersion(spark, appendDir)
    // an EMPTY delta is a no-op (no version, no flip)
    Similarity.appendIvfIndex(appendDir, vecs.filter(col("vec_id") < 0))
    assert(Similarity.indexVersion(spark, appendDir) == v2,
      "empty append committed a version")
    Similarity.appendIvfIndex(appendDir, vecs.filter(col("vec_id") < 2))
    val v3 = Similarity.indexVersion(spark, appendDir)
    // keep-2 window is {v2, v3}; v1 is older than the cutoff but BOTH
    // kept manifests reference it — it must survive, and the probe
    // must still see base-segment candidates
    assert(versions().contains(v1),
      s"GC collected a referenced segment: ${versions()}")
    assert(Similarity.ivfProbeIndexed(appendDir,
      vecs.filter(col("vec_id") < 4), 3).count() > 0)
    // two REBUILDS later nothing references v1/v2/v3; GC drops them
    Similarity.buildIvfIndex(vecs, appendDir, nlist = 8)
    Similarity.buildIvfIndex(vecs, appendDir, nlist = 8)
    assert(!versions().exists(Set(v1, v2, v3)),
      s"unreferenced segments survived two rebuilds: ${versions()}")
  }

  test("append is split-invariant: however the delta stream is " +
       "partitioned into batches, the probed index is identical") {
    // the property behind the streaming query's oracle-safety claim:
    // frozen centroids make append associative, so 1, 2, or 4 deltas
    // covering the same rows must all probe identically
    val base = vecs.filter(pmod(col("vec_id"), lit(3)) === 0)
    val rest = vecs.filter(pmod(col("vec_id"), lit(3)) =!= 0)
    val queries = vecs.filter(col("vec_id") < 8)
    def probeAfter(splits: Seq[org.apache.spark.sql.DataFrame],
                   dir: String) = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fsys = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fsys.exists(p)) fsys.delete(p, true)
      Similarity.buildIvfIndex(base, dir, nlist = 8)
      splits.foreach(Similarity.appendIvfIndex(dir, _))
      Similarity.ivfProbeIndexed(dir, queries, 5)
    }
    val one = probeAfter(Seq(rest), "/tmp/graft_ivf_split1")
    val two = probeAfter(
      Seq(rest.filter(pmod(col("vec_id"), lit(2)) === 0),
          rest.filter(pmod(col("vec_id"), lit(2)) =!= 0)),
      "/tmp/graft_ivf_split2")
    val four = probeAfter(
      (0 to 3).map(i =>
        rest.filter(pmod(col("vec_id"), lit(4)) === i)),
      "/tmp/graft_ivf_split4")
    assert(one.exceptAll(two).isEmpty && two.exceptAll(one).isEmpty,
      "1-delta and 2-delta ingests diverged")
    assert(one.exceptAll(four).isEmpty && four.exceptAll(one).isEmpty,
      "1-delta and 4-delta ingests diverged")
    assert(one.count() > 0)
  }

  test("streaming ingest really runs multiple micro-batches and ends " +
       "at the same index as one flat append") {
    // run the inventory query (it wipes its own dirs), then check the
    // segment manifest: 4 source files at maxFilesPerTrigger=2 must
    // have produced ≥2 append segments on top of the base build —
    // proof the probe result came through the multi-batch path
    val out = SimilarityQueries.queries
      .find(_.name == "sim_stream_ivf_ingest").get
      .fn(spark, sf)
    assert(out.count() > 0)
    // per-pid scratch root (QueryPack.scratch), not the stale pre-r12
    // fixed /tmp path
    val dir = graft.ops.QueryPack.scratch("ivf_stream", sf) + "/index"
    val ver = Similarity.indexVersion(spark, dir)
    val segs = Similarity.indexSegments(spark, dir, ver)
    assert(segs.size >= 3,
      s"expected base + >=2 streamed segments, got $segs")
    // and the streamed index equals a flat batch append of the union
    val cents = Similarity.readCentroids(spark, dir, ver)
    val direct = Similarity.ivfTopK(vecs,
      vecs.filter(col("vec_id") < 8), 5, centroids = Some(cents))
    assert(out.exceptAll(direct).isEmpty && direct.exceptAll(out).isEmpty,
      "streamed ingest diverged from flat append")
  }

  test("a tagged append replayed after a crash-restart is a no-op; " +
       "untagged appends deliberately are not") {
    // foreachBatch replay semantics: the checkpoint commit happens
    // AFTER the batch function, so a crash between segment commit and
    // checkpoint commit re-delivers the batch — the tag must absorb it
    val dir = "/tmp/graft_ivf_tag_spec"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fsys = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fsys.exists(p)) fsys.delete(p, true)
    val base = vecs.filter(pmod(col("vec_id"), lit(3)) =!= 0)
    val delta = vecs.filter(pmod(col("vec_id"), lit(3)) === 0)
    Similarity.buildIvfIndex(base, dir, nlist = 8)
    Similarity.appendIvfIndex(dir, delta, tag = Some("7"))
    val v1 = Similarity.indexVersion(spark, dir)
    val n1 = Similarity.ivfProbeIndexed(dir,
      vecs.filter(col("vec_id") < 8), 5).collect().toSet
    // replay of the same micro-batch: same tag → no version, no flip
    Similarity.appendIvfIndex(dir, delta, tag = Some("7"))
    assert(Similarity.indexVersion(spark, dir) == v1,
      "replayed tagged batch committed a duplicate segment")
    assert(Similarity.ivfProbeIndexed(dir,
      vecs.filter(col("vec_id") < 8), 5).collect().toSet == n1)
    // a DIFFERENT tag is new data and must commit
    Similarity.appendIvfIndex(dir, delta.limit(3), tag = Some("8"))
    assert(Similarity.indexVersion(spark, dir) != v1)
    // untagged appends carry no replay contract: two identical calls
    // commit two segments (batch callers own their own dedup)
    Similarity.appendIvfIndex(dir, delta.limit(2))
    val v3 = Similarity.indexVersion(spark, dir)
    Similarity.appendIvfIndex(dir, delta.limit(2))
    assert(Similarity.indexVersion(spark, dir) != v3)
  }

  test("mid-stream kill + checkpoint restart of the ingest converges " +
       "to the flat append (tags absorb any replayed batch)") {
    val root = "/tmp/graft_ivf_restart_spec"
    val rp = new org.apache.hadoop.fs.Path(root)
    val fsys = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fsys.exists(rp)) fsys.delete(rp, true)
    val dir = s"$root/index"
    val base = vecs.filter(pmod(col("vec_id"), lit(3)) =!= 0)
    val delta = vecs.filter(pmod(col("vec_id"), lit(3)) === 0)
    Similarity.buildIvfIndex(base, dir, nlist = 8)
    // 6 source files with distinct mod-times → 6 micro-batches at
    // maxFilesPerTrigger=1, room to die in the middle
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("vec_id"))
    val chunked = delta.withColumn("__rn", row_number().over(w))
    val per = math.ceil(chunked.count() / 6.0).toLong
    def writeChunks(r: Range): Unit = r.foreach { i =>
      chunked.filter(col("__rn") > i * per && col("__rn") <= (i + 1) * per)
        .drop("__rn").coalesce(1).write.mode("append").parquet(s"$root/in")
      Thread.sleep(30)
    }
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", 4)
    def runStream(): Unit = {
      val q = s2.readStream.schema(delta.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$root/in")
        .writeStream.option("checkpointLocation", s"$root/cp")
        .foreachBatch(Similarity.ivfStreamSink(dir, s"$root/cp"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // run 1: only half the delta has arrived; the query drains it and
    // shuts down — the checkpoint is mid-ingest, exactly a crash+cold
    // restart boundary
    writeChunks(0 until 3)
    runStream()
    val midSegs = Similarity.indexSegments(spark, dir,
      Similarity.indexVersion(spark, dir))
    assert(midSegs.size >= 3, s"expected partial ingest, got $midSegs")
    // the LAST committed batch re-delivered (segment committed, then
    // crash before checkpoint commit): the tag must absorb it. Tags
    // are streamId#batchId — recover the id the sink read from the
    // checkpoint metadata to forge the replayed tag.
    val metaJson = graft.sources.PointerFile.read(fsys,
      new org.apache.hadoop.fs.Path(s"$root/cp/metadata"))
    val streamId = """"id"\s*:\s*"([^"]+)"""".r
      .findFirstMatchIn(metaJson).get.group(1)
    val lastTag = s"$streamId#${midSegs.size - 2}" // batch ids start at 0
    Similarity.appendIvfIndex(dir,
      chunked.filter(col("__rn") <= per).drop("__rn"),
      tag = Some(lastTag))
    assert(Similarity.indexSegments(spark, dir,
        Similarity.indexVersion(spark, dir)).size == midSegs.size,
      "replayed tagged batch committed a duplicate segment")
    // run 2: the rest arrives; SAME checkpoint — resumes from
    // committed offsets and ingests only the new files
    writeChunks(3 until 6)
    runStream()
    // end state ≡ flat assignment of the full union to the frozen
    // centroids — duplicates from an unabsorbed replay would break
    // row-set equality
    val queries = vecs.filter(col("vec_id") < 8)
    val probed = Similarity.ivfProbeIndexed(dir, queries, 5)
    val cents = Similarity.readCentroids(spark, dir,
      Similarity.indexVersion(spark, dir))
    val direct = Similarity.ivfTopK(vecs, queries, 5,
      centroids = Some(cents))
    assert(probed.exceptAll(direct).isEmpty &&
           direct.exceptAll(probed).isEmpty,
      "restarted ingest diverged from the flat append")
  }

  test("a reset checkpoint (index retained) appends under a fresh tag " +
       "namespace instead of dropping its batches as phantom replays") {
    // ADVICE r4: raw batchId tags collide across stream lifetimes —
    // wipe the checkpoint, keep the index, and the NEW stream's batch
    // 0 matches the OLD chain's tag "0" and is silently discarded.
    // ivfStreamSink namespaces by the query id in the checkpoint's
    // metadata file, so a reset mints a fresh namespace.
    val root = "/tmp/graft_ivf_reset_spec"
    val rp = new org.apache.hadoop.fs.Path(root)
    val fsys = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fsys.exists(rp)) fsys.delete(rp, true)
    val dir = s"$root/index"
    Similarity.buildIvfIndex(vecs.filter(col("vec_id") < 30), dir,
      nlist = 8)
    def mkCheckpoint(cp: String, id: String): Unit = {
      val f = fsys.create(new org.apache.hadoop.fs.Path(s"$cp/metadata"),
        true)
      try f.write(s"""{"id":"$id"}""".getBytes("UTF-8"))
      finally f.close()
    }
    mkCheckpoint(s"$root/cp1", "11111111-aaaa-bbbb-cccc-000000000001")
    mkCheckpoint(s"$root/cp2", "22222222-aaaa-bbbb-cccc-000000000002")
    val sink1 = Similarity.ivfStreamSink(dir, s"$root/cp1")
    val sink2 = Similarity.ivfStreamSink(dir, s"$root/cp2")
    def nSegs: Int = Similarity.indexSegments(spark, dir,
      Similarity.indexVersion(spark, dir)).size
    val d1 = vecs.filter(col("vec_id") >= 30 && col("vec_id") < 40)
    val d2 = vecs.filter(col("vec_id") >= 40 && col("vec_id") < 50)
    sink1(d1, 0L)
    val afterFirst = nSegs
    sink1(d1, 0L) // replay within the same checkpoint: absorbed
    assert(nSegs == afterFirst,
      "replayed batch in the same stream committed a duplicate segment")
    // "checkpoint wiped, index kept": a new stream starts at batch 0
    // with DIFFERENT data — must commit, not vanish
    sink2(d2, 0L)
    assert(nSegs == afterFirst + 1,
      "fresh stream's batch 0 was dropped as a phantom replay of the " +
      "old stream's batch 0")
  }

  test("a crash-partial append (no commit marker) is invisible to " +
       "readers and GC-collected without breaking the index") {
    val p = new org.apache.hadoop.fs.Path(appendDir)
    val fsys = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fsys.exists(p)) fsys.delete(p, true)
    Similarity.buildIvfIndex(vecs, appendDir, nlist = 8)
    val good = Similarity.indexVersion(spark, appendDir)
    // simulate an append that died after its parquet writes: data and
    // manifest on disk, no _COMMITTED, no _CURRENT flip
    val dead = "v-0000000000001-deadbeef"
    fsys.mkdirs(new org.apache.hadoop.fs.Path(s"$appendDir/$dead/cells"))
    val out = fsys.create(
      new org.apache.hadoop.fs.Path(s"$appendDir/$dead/segments"), true)
    try out.write(s"$good\n$dead".getBytes("UTF-8")) finally out.close()
    assert(Similarity.indexVersion(spark, appendDir) == good,
      "partial append became visible")
    val n = Similarity.ivfProbeIndexed(appendDir,
      vecs.filter(col("vec_id") < 4), 3).count()
    assert(n > 0, "probe broken by partial append litter")
    // the partial dir (old name, no marker) goes at the next GC that
    // has 2 committed versions; its manifest is never read since it is
    // not a KEPT version
    Similarity.buildIvfIndex(vecs, appendDir, nlist = 8)
    Similarity.buildIvfIndex(vecs, appendDir, nlist = 8)
    graft.sources.PointerFile.awaitGc() // async vacuum since r14
    val left = fsys.listStatus(p).filter(_.isDirectory)
      .map(_.getPath.getName).toSet
    assert(!left.contains(dead), s"crash litter survived GC: $left")
  }
}
