package graft.sources

import org.apache.hadoop.fs.{ChecksumFileSystem, FileContext, FileStatus,
  FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}

/** Tiny atomic pointer files — the shared primitive under the ONE
  * crash-safe commit protocol ([[SegmentedIndex]]: every index family's
  * `_CURRENT`, and the CDC store's): write a uniquely-named tmp
  * sibling, then ONE `FileContext` rename with
  * `Options.Rename.OVERWRITE`. A delete-then-rename pair would leave a
  * no-pointer window that a crash could turn into data loss; the
  * unique tmp suffix means concurrent writers never collide on the tmp
  * path — last rename wins, and the loser's flip is simply superseded.
  */
object PointerFile {

  /** One cached FileContext per (scheme#authority, Configuration
    * instance): `getFileContext` constructs a fresh AbstractFileSystem
    * per call, measurable overhead on every non-local commit. The
    * Configuration is part of the IDENTITY of the key
    * (ADVICE r10): keying on scheme#authority alone bound the
    * first-seen conf forever, so a later caller with different settings
    * (kerberos tokens, fs impl overrides) silently reused a stale
    * context. Identity (eq), not value equality — Configuration's
    * equals is reference-based anyway, and in practice each
    * SparkSession hands every caller the same hadoopConfiguration
    * instance, so the cache stays one entry per scheme per session
    * (no unbounded growth).
    */
  private final class FcKey(
      val schemeAuth: String,
      val conf: org.apache.hadoop.conf.Configuration) {
    override def hashCode: Int =
      schemeAuth.hashCode ^ System.identityHashCode(conf)
    override def equals(o: Any): Boolean = o match {
      case k: FcKey => k.schemeAuth == schemeAuth && (k.conf eq conf)
      case _ => false
    }
  }

  private val fcCache =
    new java.util.concurrent.ConcurrentHashMap[FcKey, FileContext]()

  private def fileContext(uri: java.net.URI,
                          conf: org.apache.hadoop.conf.Configuration)
      : FileContext =
    fcCache.computeIfAbsent(
      new FcKey(s"${uri.getScheme}#${uri.getAuthority}", conf),
      _ => FileContext.getFileContext(uri, conf))

  def write(fs: FileSystem, dst: Path, value: String): Unit = {
    // LOCAL fast path (r10, measured in BASELINE.md round-10): the
    // hadoop create + FileContext-rename pair costs ~37 ms per pointer
    // on a local disk (checksum-file churn + an AbstractFileSystem
    // round trip per call) — 32 bucket flips made the CDC merge's
    // per-commit cost 52% pointer writes. Plain java.nio write +
    // ATOMIC_MOVE is the SAME protocol (unique tmp sibling, ONE atomic
    // overwrite-rename — POSIX rename(2)) at 0.36 ms. Non-local
    // filesystems (HDFS/S3 at cluster scale) keep the hadoop path,
    // where per-op latency is network-bound and the FileContext rename
    // carries the required semantics.
    fs match {
      case _: LocalFileSystem | _: RawLocalFileSystem =>
        val dir = java.nio.file.Paths.get(dst.getParent.toUri.getPath)
        java.nio.file.Files.createDirectories(dir)
        // a LEGACY checksummed write may have left `.<name>.crc`; new
        // data under an old crc would fail a ChecksumFileSystem read,
        // so drop it first (old data + old crc stays consistent until
        // the move; no crc = no verification after it)
        java.nio.file.Files.deleteIfExists(
          dir.resolve(s".${dst.getName}.crc"))
        val tmp = dir.resolve(dst.getName + "." +
          java.util.UUID.randomUUID().toString.take(8) + ".tmp")
        java.nio.file.Files.write(tmp,
          value.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        java.nio.file.Files.move(tmp, dir.resolve(dst.getName),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        ()
      case _ =>
        val tmp = new Path(dst.getParent, dst.getName + "." +
          java.util.UUID.randomUUID().toString.take(8) + ".tmp")
        val out = fs.create(tmp, true)
        try out.write(value.getBytes("UTF-8")) finally out.close()
        fileContext(tmp.toUri, fs.getConf)
          .rename(tmp, dst, Options.Rename.OVERWRITE)
    }
  }

  /** A pointer file's value, read past any checksum layer: pointer
    * files carry no checksum (the local [[write]] drops it), so one raw
    * open replaces a status call, an open and a failed `.crc` open.
    */
  def read(fs: FileSystem, p: Path): String = {
    val in = (fs match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case _ => fs
    }).open(p)
    try scala.io.Source.fromInputStream(in).mkString.trim
    finally in.close()
  }

  /** Crash leftovers of [[write]] targeting `dst`: tmp siblings never
    * renamed. Age-gated (default 1 h) so a CONCURRENT writer's
    * seconds-old in-flight tmp is never deleted out from under its
    * rename — only genuinely orphaned files go. `listing`: the
    * parent's, if the caller has listed it already.
    */
  def cleanStaleTmp(fs: FileSystem, dst: Path, maxAgeMs: Long = 3600000L,
                    listing: Option[Array[FileStatus]] = None): Unit = {
    val cutoff = System.currentTimeMillis() - maxAgeMs
    listing.orElse(Option.when(fs.exists(dst.getParent))(
      fs.listStatus(dst.getParent))).getOrElse(Array.empty).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith(dst.getName + ".") && n.endsWith(".tmp") &&
          st.getModificationTime < cutoff)
        fs.delete(st.getPath, false)
    }
  }

  /** Name of the per-version commit marker [[commitVersion]] writes. */
  val CommittedMarker = "_COMMITTED"

  /** Commit one freshly-written `v-*` version dir under `base` and GC
    * old ones. Protocol: (1) drop a `_COMMITTED` marker inside the
    * version dir (all data files are already on disk), (2) atomically
    * flip `_CURRENT` to it, (3) delete version dirs strictly older
    * than the `keep`-th newest COMMITTED version.
    *
    * Counting only committed versions for the keep window is the
    * crash-safety point: a partial dir from a build that died between
    * its parquet writes and the `_CURRENT` flip has no marker, so it
    * can never consume a keep slot and push out the last fully
    * committed version a concurrent reader just resolved. Partial dirs
    * older than the keep window ARE deleted — that's how crash litter
    * is eventually collected — while an in-flight concurrent build
    * (necessarily newer than the cutoff, since version names embed the
    * build's start time) is left alone.
    *
    * Segment manifests: a version dir may carry a `segments` text file
    * declaring that its data LIVES partly in older dirs: one line per
    * whole segment dir (the index append chains) or per pinned child,
    * `<dir>/<child>` (the CDC store's buckets). GC here reads the
    * manifests of every version it KEEPS and pins what they name —
    * computed at collection time by the collector itself, so any
    * committer (a later rebuild included) is safe without having to
    * know whether earlier versions were segmented. An old dir pinned in
    * part loses its other children.
    */
  def commitVersion(fs: FileSystem, base: Path, version: String,
                    keep: Int = 2): Unit = {
    write(fs, new Path(base, s"$version/$CommittedMarker"), "")
    val cur = new Path(base, "_CURRENT")
    write(fs, cur, version)
    val listing = fs.listStatus(base)
    cleanStaleTmp(fs, cur, listing = Some(listing))
    val dirs = listing
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v-"))
      .map(_.getPath)
    val committed = dirs
      .filter(p => fs.exists(new Path(p, CommittedMarker)))
      .map(_.getName).sorted.reverse
    if (committed.length >= keep) {
      val cutoff = committed(keep - 1)
      val pins = committed.take(keep).flatMap { v =>
        try read(fs, new Path(base, s"$v/segments")).linesIterator
          .map(_.trim).filter(_.nonEmpty).toList
        catch { case _: java.io.FileNotFoundException => Nil }
      }
      val (whole, parts) = pins.partition(!_.contains('/'))
      val children = parts.map(_.split("/", 2)).groupBy(_(0))
        .map { case (d, ls) => d -> ls.map(_(1)).toSet }
      val doomed = dirs.filter(p => p.getName < cutoff &&
          !whole.contains(p.getName))
        .flatMap { p =>
          children.get(p.getName) match {
            case None => Seq(p)
            case Some(kept) => fs.listStatus(p).map(_.getPath)
              .filterNot(c => kept(c.getName)).toSeq
          }
        }
      // The KEEP decision (list + manifest pinning) runs synchronously
      // under this commit's view; only the physical deletes are
      // deferred to the vacuum thread (r14: a superseded version is
      // nlist cell dirs — at sf10 the serial delete put ~6 s of pure
      // litter removal INSIDE append wall-clock, the classic vacuum-
      // off-the-commit-path separation). Safe by construction: doomed
      // versions are older than the keep window (no reader resolves
      // them through _CURRENT) and unpinned; a racing commit that
      // lists a half-deleted dir sees no marker → never counts it
      // committed, and a double delete is a no-op.
      if (doomed.nonEmpty) gcExec.execute(() =>
        doomed.foreach(p =>
          try fs.delete(p, true)
          catch { case _: Throwable => () }))
    }
  }

  // single-threaded daemon vacuum: deletes are ordered per submission,
  // JVM exit never blocks on litter
  private val gcExec = java.util.concurrent.Executors.newSingleThreadExecutor(
    (r: Runnable) => {
      val t = new Thread(r, "graft-version-gc")
      t.setDaemon(true)
      t
    })

  /** Barrier for specs and operational tooling: returns once every
    * vacuum delete scheduled BEFORE this call has finished.
    */
  def awaitGc(): Unit =
    gcExec.submit(new Runnable { def run(): Unit = () }).get(): Unit
}
