package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named engine query plus its DuckDB oracle (SURVEY.md §5.2).
  *
  * `oracle` is ANSI-ish SQL DuckDB runs over the same parquet tables
  * (registered by bare table name). `None` ⇒ the op isn't SQL-expressible
  * (sketches, stubs) and the driver records a weaker rows-only check.
  *
  * Determinism contract for hash-matching (SURVEY.md §7.2): every query
  * ends in a total-order `ORDER BY`; aggregates over doubles go through
  * exact decimal arithmetic before a final cast to double; timestamps are
  * surfaced as epoch-microsecond longs; column names are aliased
  * identically on both sides.
  *
  * `round(x, n)` caveat: Spark (BigDecimal half-up over the shortest
  * decimal representation) and DuckDB (`std::round(x·10ⁿ)/10ⁿ`) agree on
  * every double EXCEPT exact decimal ties — reachable when x is a ratio
  * of small integers (confirmed divergent at 1 − 307/640 with n=6), all
  * but unreachable for log/sqrt/cosine-family values. Rule: never round
  * an integer-ratio column (ship the raw division — it is bit-identical
  * across engines); rounding irrational-family values for display/rank
  * stability is fine.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

trait QueryPack {
  def queries: Seq[Q]
}

object QueryPack {
  /** Per-process token in every in-query scratch path. The pid makes
    * the inventory RE-ENTRANT — two concurrent harnesses on different
    * checkouts but the same sfDir string can't collide on
    * `/tmp/graft_*` state (ADVICE r11) — while the fixed prefix keeps
    * paths predictable enough to inspect after a run.
    */
  val sessionToken: String = "p" + ProcessHandle.current().pid()

  /** Session scratch root. We CREATE it here, atomically, and refuse a
    * pre-existing directory: under world-writable `/tmp` a predictable
    * per-pid path could be planted by another local user (e.g. holding
    * a symlink so our exit-time cleanup deletes their target — ADVICE
    * r12). If `/tmp/graft_<pid>` already exists we fall back to an
    * unpredictable `createTempDirectory` name; either way the root is
    * provably ours AND mode 700 (explicit rwx------ on the primary,
    * default temp-dir perms on the fallback).
    */
  val sessionRoot: java.io.File = {
    import java.nio.file.{Files, Paths, FileAlreadyExistsException}
    val primary = Paths.get(s"/tmp/graft_$sessionToken")
    // explicit rwx------ (ADVICE r13): createDirectory under the
    // default umask is typically 755, which would leak index/scratch
    // contents to other local users on a shared host — the fallback's
    // createTempDirectory is 700, the primary must match it
    val own = java.nio.file.attribute.PosixFilePermissions.asFileAttribute(
      java.nio.file.attribute.PosixFilePermissions.fromString("rwx------"))
    try { Files.createDirectory(primary, own).toFile }
    catch {
      case _: FileAlreadyExistsException =>
        Files.createTempDirectory(Paths.get("/tmp"),
          s"graft_${sessionToken}_").toFile
    }
  }

  // per-pid roots are never reused by a later process (fresh pid ⇒
  // fresh root), so without cleanup every harness run would strand its
  // scratch in /tmp; delete the whole session root at JVM exit.
  // Symlinks are deleted as links, never traversed (listFiles on a
  // dir-symlink would otherwise recurse into — and delete — content
  // OUTSIDE the session root).
  sys.addShutdownHook {
    def rm(f: java.io.File): Unit = {
      if (!java.nio.file.Files.isSymbolicLink(f.toPath)) {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(rm)
      }
      f.delete(): Unit
    }
    rm(sessionRoot)
  }

  /** Scratch workspace for one query kind at one sf dir:
    * `<sessionRoot>/<kind>/<sanitized sfDir>`. Queries own the
    * lifecycle below this path exactly as before (delete-then-build);
    * nothing under it is shared across processes.
    */
  def scratch(kind: String, sfDir: String): String =
    s"${sessionRoot.getAbsolutePath}/$kind/" +
      sfDir.replaceAll("[^A-Za-z0-9]", "_")

  /** Query-boundary block hygiene (VERDICT r13 item 3). Queries
    * materialize intermediates via `localCheckpoint` (lineage
    * truncation — see Dedup.dupClusters's scaladoc); a checkpoint
    * referenced by the RETURNED plan cannot be unpersisted inside its
    * query, and `spark.catalog.clearCache()` only drops the SQL cache
    * manager's entries, never RDD-level persists. In a long-lived
    * session running the whole inventory those blocks accumulate
    * until the ContextCleaner's weak-ref GC happens to run — the r13
    * sf10 bench OOMed at 28 GiB on exactly that accumulation (the
    * blamed query, dedup_clusters, runs green SOLO at 28 GiB).
    * Call BETWEEN queries, once the previous result is fully
    * consumed: drops every retained RDD block and SQL cache entry.
    *
    * `blocking`: a TIMED caller (Bench) must pass true — with async
    * release the BlockManager removes the previous query's blocks
    * while the next query's timer is already running, contending with
    * its task threads (VERDICT r14: 25 outlier retries and a 1.5×
    * regression on an untouched operator at local[32]; clean at 8
    * cores). Untimed callers (Verify, specs) keep the async default —
    * they only need the blocks gone eventually.
    */
  def releaseRetainedBlocks(
      spark: org.apache.spark.sql.SparkSession,
      blocking: Boolean = false): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = blocking))
    spark.catalog.clearCache()
  }

  /** Child session for one streaming query: the per-query shuffle
    * width (state shuffles sized to the micro-batch, not the parent's
    * data-heavy default), plus a checkpoint file manager matched to
    * the checkpoint's filesystem.
    *
    * The manager choice is the r15 trigger-floor fix: Spark's default
    * FileContext-based manager routes every checkpoint rename through
    * `AbstractFileSystem.renameInternal`, whose link-status checks on
    * the LOCAL filesystem FORK a `readlink` process per rename (plus a
    * `chmod` fork per created file) — thread-sampled at ~40 ms per
    * walCommit/latestOffset/commitOffsets against 0.04-0.4 ms of real
    * write+rename I/O, i.e. ~120 ms of pure fork overhead per trigger
    * that an HDFS/S3 deployment never pays. For `file:` checkpoints
    * the FileSystem-based manager keeps the identical temp-file-plus-
    * atomic-rename commit protocol (`File.renameTo` is POSIX-atomic)
    * without the FileContext fork path; any other scheme keeps Spark's
    * default choice, where FileContext's rename guarantees matter.
    */
  def streamSession(parent: SparkSession, shufflePartitions: Int,
                    checkpointDir: String): SparkSession = {
    val s2 = parent.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", shufflePartitions)
    useLocalCheckpointManager(s2, checkpointDir)
    s2
  }

  /** On a `file:` `checkpointDir`, point `session`'s streaming
    * checkpoint file manager at the FileSystem-based one (see
    * [[streamSession]] for why); any other scheme keeps Spark's
    * default. Only for a session the caller owns: the conf is set on it.
    */
  def useLocalCheckpointManager(session: SparkSession,
                                checkpointDir: String): Unit = {
    val scheme = new org.apache.hadoop.fs.Path(checkpointDir)
      .getFileSystem(session.sparkContext.hadoopConfiguration).getScheme
    if (scheme == "file")
      session.conf.set("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing." +
          "FileSystemBasedCheckpointFileManager")
  }
}

/** Oracles whose SQL embeds DATA-DERIVED LITERALS (e.g. the trained IVF
  * centroids): the literal values exist only once the query has run
  * against a concrete sf dir, so these oracles are RENDERED AT RUN TIME
  * by the query itself and merged into Verify's `oracle_sql.json` dump
  * (run order: Verify executes every query, then dumps oracles — the
  * registered SQL always reflects the sf dir under verification).
  *
  * The SQL still reads ONLY the canonical parquet tables: the rendered
  * literal is a `VALUES` table of a few KB (nlist × dim doubles), a
  * driver-side constant by the same bounded-collect rule as the
  * centroids themselves.
  */
object DynamicOracle {
  private val map =
    scala.collection.concurrent.TrieMap.empty[String, String]

  def put(name: String, sql: String): Unit = map.put(name, sql)

  def snapshot: Map[String, String] = map.toMap

  /** `(cid, [components]::DOUBLE[])` rows for a VALUES literal.
    * `Double.toString` round-trips every finite double exactly and
    * DuckDB parses its scientific notation.
    */
  def centroidValues(cents: Array[(Int, Array[Double])]): String =
    cents.map { case (cid, v) =>
      s"($cid, [${v.map(java.lang.Double.toString).mkString(", ")}]" +
        "::DOUBLE[])"
    }.mkString(", ")

  /** `(j, code, [codeword]::DOUBLE[], ‖codeword‖²)` rows for the PQ
    * codebook VALUES literal. The rendered `c2` is the same left-fold
    * Σcᵢ² the engine bakes into its encoding expression, so both
    * engines compare bit-identical `c2 − 2·x·c` scores.
    */
  def codebookValues(books: Array[Array[Array[Double]]]): String =
    books.zipWithIndex.flatMap { case (book, j) =>
      book.zipWithIndex.map { case (cw, code) =>
        var c2 = 0.0
        var i = 0
        while (i < cw.length) { c2 += cw(i) * cw(i); i += 1 }
        s"($j, $code, " +
          s"[${cw.map(java.lang.Double.toString).mkString(", ")}]" +
          s"::DOUBLE[], ${java.lang.Double.toString(c2)})"
      }
    }.mkString(", ")
}
