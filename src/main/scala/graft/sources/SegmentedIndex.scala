package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The ONE commit protocol every persisted standing artifact in the
  * engine rides — the shingle dedup index (`graft.text.Dedup`), the IVF
  * family's raw / PQ / SQ8 indexes (`graft.sim.Similarity`) and the
  * CDC state store (`graft.streaming.CdcPipeline`, whose version dirs
  * hold its buckets). The protocol lives here; the clients keep only
  * their domain payload writes.
  *
  * Layout under an index root `dir`:
  *   - `v-<millis>-<uuid8>/` immutable version dirs holding the data
  *     files a build or append wrote, plus:
  *     - `_COMMITTED`   marker dropped by [[PointerFile.commitVersion]]
  *     - `segments`     text manifest (one segment dir, or one pinned
  *       child `<dir>/<child>`, per line) — present on APPEND versions
  *       and CDC commits; the version's data lives in every listed
  *       entry. Absent on base builds (the version IS its only segment).
  *     - `_APPEND_TAG`  opaque idempotency tag (streaming exactly-once)
  *   - `_CURRENT` atomic pointer file naming the committed version.
  *
  * Crash-safety: data files land first; the single atomic `_CURRENT`
  * overwrite-rename is the commit point. A crash mid-append leaves
  * `_CURRENT` on the parent — a partial dir has no `_COMMITTED` marker,
  * never consumes a GC keep slot, and is eventually collected as
  * litter. GC is manifest-aware ([[PointerFile.commitVersion]] pins
  * everything a KEPT version's manifest references).
  *
  * Concurrency: the protocol is SINGLE-WRITER (the streaming sinks run
  * one foreachBatch at a time; batch appends, compactions and merges
  * are operator actions). Two concurrent writers would both chain off
  * the same parent and the second flip would silently drop the first
  * one's commit — so every commit re-reads `_CURRENT` immediately
  * before its flip ([[fenceAndFlip]]) and fails loudly if another
  * writer moved it. That fence turns the silent-loss race into an
  * error with a retry instruction; it is conflict DETECTION on a
  * narrow window, not a lock — serialize writers externally if an
  * index has more than one.
  */
object SegmentedIndex {

  val CurrentPointer = "_CURRENT"
  val AppendTag = "_APPEND_TAG"
  /** Multi-tag carry file a COMPACTED base writes: the union of every
    * idempotency tag that was committed on the chain it replaced.
    * Without it, compaction would erase the exactly-once history — a
    * checkpoint-replayed micro-batch whose segment was folded into the
    * compacted base would no longer find its tag and would re-append
    * its data as a duplicate segment.
    */
  val MultiTags = "_TAGS"

  def fsFor(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The version dir `_CURRENT` points at — the one consistent
    * committed view of the index.
    */
  def currentVersion(spark: SparkSession, dir: String): String =
    PointerFile.read(fsFor(spark, dir), new Path(dir, CurrentPointer))

  /** The SEGMENTS a version's data lives in: its `segments` manifest
    * when present (append versions), else the version itself (a base
    * build).
    */
  def segments(spark: SparkSession, dir: String, version: String)
      : Seq[String] = {
    val fs = fsFor(spark, dir)
    val p = new Path(s"$dir/$version/segments")
    if (!fs.exists(p)) Seq(version)
    else PointerFile.read(fs, p).linesIterator
      .map(_.trim).filter(_.nonEmpty).toList
  }

  /** Fresh version-dir name. Millis prefix keeps lexicographic order
    * = commit order (the GC keep window sorts on it); the uuid suffix
    * keeps two same-millisecond builders from colliding on a path.
    */
  def newVersionName(): String =
    f"v-${System.currentTimeMillis()}%013d-${
      java.util.UUID.randomUUID().toString.take(8)}"

  /** Batch tags already committed on a version's segment chain
    * (single-writer streaming: a replayed batch's segment is by
    * construction on the chain it committed to).
    */
  def committedTags(fs: FileSystem, dir: String, segs: Seq[String])
      : Set[String] =
    segs.flatMap { s =>
      val p = new Path(s"$dir/$s/$AppendTag")
      val own =
        if (!fs.exists(p)) Nil else List(PointerFile.read(fs, p))
      // a compacted base carries forward the folded chain's tags
      val mt = new Path(s"$dir/$s/$MultiTags")
      val carried =
        if (!fs.exists(mt)) Nil
        else PointerFile.read(fs, mt).linesIterator
          .map(_.trim).filter(_.nonEmpty).toList
      own ++ carried
    }.toSet

  /** True iff `tag` is set and already on the committed chain — the
    * foreachBatch exactly-once guard: a re-delivered micro-batch whose
    * segment committed before the crash must no-op, not duplicate.
    */
  def tagCommitted(spark: SparkSession, dir: String,
                   parentSegs: Seq[String], tag: Option[String])
      : Boolean =
    tag.exists(committedTags(fsFor(spark, dir), dir, parentSegs))

  /** Commit a freshly-written base-build version: flip `_CURRENT` and
    * run the keep-window GC.
    */
  def commitBuild(spark: SparkSession, dir: String, version: String,
                  keep: Int = 2): Unit =
    PointerFile.commitVersion(fsFor(spark, dir), new Path(dir),
      version, keep)

  /** Commit a freshly-written APPEND version dir: write its `segments`
    * manifest (= parent's chain + itself) and optional idempotency
    * tag, fence against a concurrent writer, then flip `_CURRENT`.
    * The version dir's DATA files must already be on disk — this is
    * the metadata + commit half only.
    */
  def commitAppend(spark: SparkSession, dir: String, version: String,
                   parent: String, parentSegs: Seq[String],
                   tag: Option[String], keep: Int = 2): Unit = {
    val fs = fsFor(spark, dir)
    PointerFile.write(fs, new Path(s"$dir/$version/segments"),
      (parentSegs :+ version).mkString("\n"))
    tag.foreach(
      PointerFile.write(fs, new Path(s"$dir/$version/$AppendTag"), _))
    fenceAndFlip(fs, dir, version, Some(parent), keep)
  }

  /** Commit a freshly-written COMPACTED base version: the new dir
    * holds the ENTIRE index payload rewritten as one segment (its data
    * files must already be on disk), so it gets NO `segments` manifest
    * — it is its own only segment, exactly like a fresh build — plus a
    * `_TAGS` carry file preserving the folded chain's exactly-once
    * history (see [[MultiTags]]). Same single-writer fence as
    * [[commitAppend]]: an append that committed while the compaction
    * rewrote would be silently erased by the flip, so fail loudly and
    * let the caller re-run against the new chain.
    *
    * Readers are never torn: the keep-window GC retains the parent
    * version, whose manifest pins every folded segment, so an
    * in-flight probe that resolved `_CURRENT` before the flip still
    * finds its whole chain on disk.
    */
  def commitCompact(spark: SparkSession, dir: String, version: String,
                    parent: String, chainTags: Set[String],
                    keep: Int = 2): Unit = {
    val fs = fsFor(spark, dir)
    if (chainTags.nonEmpty) PointerFile.write(fs,
      new Path(s"$dir/$version/$MultiTags"),
      chainTags.toSeq.sorted.mkString("\n"))
    fenceAndFlip(fs, dir, version, Some(parent), keep)
  }

  /** The commit tail of [[commitAppend]], [[commitCompact]] and the
    * CDC store: single-writer fence (if another writer moved
    * `_CURRENT` since this one read its `parent` — None for a first
    * commit — flipping now would silently drop that writer's commit;
    * fail loudly instead; narrow-window detection, not a lock, see the
    * object doc), then the atomic pointer flip + keep-window GC.
    */
  private[graft] def fenceAndFlip(fs: FileSystem, dir: String,
                                  version: String, parent: Option[String],
                                  keep: Int): Unit =
    // the fence is only loud-or-clean if no other writer flips INSIDE
    // the read→flip window: un-serialized, two same-JVM writers can
    // both read `parent`, both pass the require, and the second flip
    // silently drops the first writer's segment from the chain — the
    // exact silent loss ProtocolChaosSpec's two-stream race hunts
    // (caught there in r14 once the append path's timing shifted).
    // One JVM-wide monitor per index dir closes the window completely
    // in-process (streaming sinks and tests are same-JVM writers);
    // cross-process writers keep the documented detection-only
    // semantics — serialize those externally.
    // lock key is the FS-qualified normalized dir (ADVICE r14): raw
    // strings would let equivalent spellings of one dir (trailing
    // slash, scheme-qualified vs bare) take different monitors and
    // race past each other. One entry per index dir per JVM — bounded
    // by the number of standing indexes a process touches, the same
    // order as the catalog entries those indexes already hold.
    flipLocks.computeIfAbsent(
      fs.makeQualified(new Path(dir)).toUri.normalize().toString,
      _ => new Object).synchronized {
      val cur =
        try Some(PointerFile.read(fs, new Path(dir, CurrentPointer)))
        catch { case _: java.io.FileNotFoundException => None }
      require(cur == parent,
        s"concurrent writer detected on $dir: _CURRENT moved " +
          s"${parent.getOrElse("(none)")} -> ${cur.getOrElse("(none)")} " +
          "while this commit was prepared; the segmented-index protocol " +
          "is single-writer — serialize writers and retry against the " +
          "new current version")
      PointerFile.commitVersion(fs, new Path(dir), version, keep)
    }

  private val flipLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Post-append MAINTENANCE hook: when the committed chain holds more
    * than `maxSegments` segments, fold it with the caller's compaction
    * routine — the policy that keeps a months-running streaming ingest
    * at fresh-build probe latency without operator action (each append
    * adds a segment probes fan out over; unmaintained, per-segment
    * fixed cost grows without bound while data volume stays ∝ corpus).
    *
    * Ordering is the crash-safety argument: maintain runs AFTER the
    * append's commit, so the batch's data and its exactly-once tag are
    * already on the committed chain. A crash between append and fold
    * loses only maintenance — the next batch's hook re-triggers it —
    * never data or replay history; a crash mid-fold leaves an
    * uncommitted litter dir and `_CURRENT` untouched, the standard
    * protocol story. A no-op append (replayed tag) still runs the
    * check: the fold is idempotent and skips chains already at size.
    */
  def maintain(spark: SparkSession, dir: String, maxSegments: Int)
              (compact: => Unit): Unit =
    if (maxSegments > 0 &&
        segments(spark, dir, currentVersion(spark, dir)).size
          > maxSegments) compact

  /** The stream sink of every index family: [[streamSink]]'s tagged
    * `append` of each micro-batch, then, with `maxSegments > 0`,
    * [[maintain]]'s fold by the family's `compact` — self-maintaining
    * ingest, whose `_TAGS` carry keeps checkpoint replays exactly-once
    * across folds.
    */
  def maintainedSink(dir: String, checkpointDir: String, maxSegments: Int)(
      append: (DataFrame, Option[String]) => Unit)(
      compact: SparkSession => Unit): (DataFrame, Long) => Unit =
    streamSink(checkpointDir) { (batch, tag) =>
      append(batch, tag)
      maintain(batch.sparkSession, dir, maxSegments)(
        compact(batch.sparkSession))
    }

  /** Runs `body` with `op` as the call site of the Spark jobs it
    * starts, then restores the caller's. The name is a local property,
    * so the jobs other threads start for it — concurrent writes, AQE's
    * and the broadcast pool's, all of which copy the caller's local
    * properties — carry it too, instead of the pool frame
    * (`CompletableFuture$AsyncSupply.run`) their stacks would name.
    */
  private[graft] def asOp[T](spark: SparkSession, op: String)(
      body: => T): T = {
    val sc = spark.sparkContext
    val caller = sc.getLocalProperty(CallSiteShort)
    sc.setCallSite(op)
    try body finally sc.setLocalProperty(CallSiteShort, caller)
  }

  /** The local property `SparkContext.setCallSite` sets. */
  private val CallSiteShort = "callSite.short"

  /** foreachBatch sink wrapper providing the exactly-once tag: each
    * micro-batch calls `append(batch, Some("<streamId>#<batchId>"))`,
    * where streamId is the query's stable id from the checkpoint's
    * `metadata` file (written at query start, constant across restarts
    * of the SAME checkpoint). A raw batchId tag is ambiguous across
    * stream lifetimes — wipe the checkpoint but keep the index and the
    * new stream's batch 0 collides with the old chain's tag "0", new
    * data silently dropped as a phantom replay. A reset checkpoint
    * mints a fresh query id, so its batches land in a fresh tag
    * namespace; replays within one checkpoint still dedupe exactly.
    */
  def streamSink(checkpointDir: String)(
      append: (DataFrame, Option[String]) => Unit)
      : (DataFrame, Long) => Unit = {
    @volatile var streamId: String = null
    (batch: DataFrame, batchId: Long) => {
      if (streamId == null) {
        val p = new Path(s"$checkpointDir/metadata")
        val fs = p.getFileSystem(
          batch.sparkSession.sparkContext.hadoopConfiguration)
        val json = PointerFile.read(fs, p)
        val m = """"id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(json)
        require(m.isDefined, s"no query id in $checkpointDir/metadata")
        streamId = m.get.group(1)
      }
      append(batch, Some(s"$streamId#$batchId"))
    }
  }

  /** Barrier over the shared async version-vacuum (see
    * [[PointerFile.awaitGc]]) — specs and maintenance tooling use it
    * before asserting on post-GC directory state.
    */
  def awaitGc(): Unit = PointerFile.awaitGc()
}
