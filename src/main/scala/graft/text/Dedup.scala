package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.SegmentedIndex.asOp

/** Document deduplication at corpus scale: exact, MinHash+LSH, SimHash,
  * and n-gram Jaccard. The scale discipline throughout: NEVER compare all
  * pairs — generate candidates through an inverted index (shared shingle,
  * shared LSH bucket, shared SimHash band) so work is proportional to
  * actual near-duplicate mass, not |corpus|².
  */
object Dedup {

  import TextAnalysis.{shingles, tokens}

  /** Exact dedup: group by content digest, keep the smallest id as the
    * cluster representative. One shuffle on the digest (uniform — content
    * hashes don't skew).
    */
  def exact(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("n_copies"))

  /** Distinct (doc, shingle) pairs — the inverted-index edge list. */
  def shingleSet(docs: DataFrame, k: Int = 3, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(shingles(tokens(col(textCol)), k)).as("shingle"))
      .distinct()

  /** Same set with shingles as 64-bit hashes: tokens are hashed once,
    * then each k-shingle hash combines k token-hashes with xxhash64 —
    * no string shingle is ever materialized (6× cheaper than concat),
    * and every downstream shuffle/join moves 8-byte keys. Collision
    * rate ~n²/2⁶⁴ — irrelevant for dedup purposes.
    */
  def hashedShingleSet(docs: DataFrame, k: Int = 3, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame =
    withShingleArray(docs, k, idCol, textCol)
      .select(col("doc_id"), explode(col("sharr")).as("shingle"))

  /** (doc_id, sharr): the per-doc DISTINCT k-shingle hash array, built
    * entirely per-row by the codegen'd `graft_shingles` kernel (set
    * semantics inside the row — never a (doc, shingle) shuffle, never
    * an interpreted per-element lambda).
    */
  private def withShingleArray(docs: DataFrame, k: Int, idCol: String,
                               textCol: String): DataFrame = {
    // graft_shingles is CPU-dense per row. When the source offers
    // fewer splits than the cluster has cores (a single small parquet
    // file at bench SF — measured: the kernel ran on 1-2 tasks, wall ≈
    // task time), spread rows first; one round-robin exchange of the
    // text bytes. On a lake-scale corpus splits outnumber cores and
    // this is a no-op condition, so no gratuitous 100 TB shuffle.
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val spread =
      if (docs.rdd.getNumPartitions < par) docs.repartition(par) else docs
    spread.where(expr(s"size(split($textCol, chr(32))) >= $k"))
      .select(col(idCol).as("doc_id"),
        org.apache.spark.sql.graft.Native
          .shingles(split(col(textCol), " "), k).as("sharr"))
  }

  /** The pre-native HOF formulation — token hashes then k-shingle
    * combination via two interpreted `transform` lambdas. Kept as the
    * equivalence reference for `graft_shingles`
    * (ShingleExpressionSpec).
    */
  def shingleArrayHof(docs: DataFrame, k: Int, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val tokHashes = s"transform(split($textCol, chr(32)), t -> xxhash64(t))"
    val combine = (0 until k).map(j => s"th[i+$j]").mkString(", ")
    docs.withColumn("th", expr(tokHashes))
      .where(expr(s"size(th) >= $k"))
      .select(col(idCol).as("doc_id"),
        expr(s"array_distinct(transform(sequence(0, size(th)-$k), " +
          s"i -> xxhash64($combine)))").as("sharr"))
  }

  /** n-gram Jaccard near-dup pairs via shingle inverted index:
    * join docs that share ≥1 shingle, count the intersection, compute
    * |A∩B| / (|A|+|B|-|A∩B|). Shuffles on shingle then on pair — both
    * keys high-cardinality and uniform. A hot shingle (boilerplate)
    * would skew the first join at 100 TB: cap posting-list length.
    */
  def ngramJaccardPairs(docs: DataFrame, k: Int = 3, threshold: Double = 0.8,
                        maxPostings: Int = 1000): DataFrame = {
    // localCheckpoint, not cache: downstream both aggregates sh (sizes)
    // and self-joins it, and AQE materializes those exchanges
    // CONCURRENTLY — with a lazy cache both races past the unfilled
    // cache and the shingle kernel runs twice (measured, r7). The eager
    // checkpoint computes it exactly once and truncates lineage.
    val sh = hashedShingleSet(docs, k).localCheckpoint()
    naivePairs(sh, threshold, maxPostings)
  }

  /** Naive inverted-index join over a precomputed (doc, shingle) set.
    * The postings-cap join (skew guard for degenerate ultra-common
    * shingles) is elided entirely when uncapped — one fewer shuffle.
    * Under a cap, similarity is defined over the CAPPED shingle
    * universe (sizes count only surviving shingles): counting dropped
    * boilerplate in the denominators but never the numerator biases
    * Jaccard down and loses genuine short-doc near-dups (measured:
    * SkewProbe r7, 327 → 40 pairs) — stop-word-style removal is the
    * production semantic.
    */
  private def naivePairs(sh: DataFrame, threshold: Double,
                         maxPostings: Int): DataFrame = {
    val filtered =
      if (maxPostings == Int.MaxValue) sh
      else sh.join(
        sh.groupBy("shingle").agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxPostings).select("shingle"),
        Seq("shingle"))
    val sizes = filtered.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val common = filtered.as("a")
      .join(filtered.as("b"), Seq("shingle"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("n_common"))
    finishJaccard(common, sizes, threshold)
  }

  /** Join intersection counts with set sizes and apply the τ filter. */
  private def finishJaccard(common: DataFrame, sizes: DataFrame,
                            threshold: Double): DataFrame =
    common
      .join(sizes.withColumnRenamed("doc_id", "a_id")
        .withColumnRenamed("n_sh", "n_a"), Seq("a_id"))
      .join(sizes.withColumnRenamed("doc_id", "b_id")
        .withColumnRenamed("n_sh", "n_b"), Seq("b_id"))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "n_common", "jaccard")

  /** DIRECTED CONTAINMENT pairs — |shingles(A) ∩ shingles(B)| / |A|:
    * the asymmetric cousin of Jaccard that catches a SHORT document
    * embedded inside a LONG one (quotes, boilerplate wrappers,
    * scrape-with-chrome around an original), which symmetric Jaccard
    * misses because the union is dominated by the long side. Emits the
    * ordered pair (a contained-in b); both directions surface
    * independently. Same inverted-index shape and postings-cap skew
    * guard as [[ngramJaccardPairs]] — candidates are Σ df², never
    * all-pairs.
    */
  def containmentPairs(docs: DataFrame, k: Int = 3,
                       threshold: Double = 0.9,
                       maxPostings: Int = 1000): DataFrame = {
    // hashed shingles: 8-byte join keys, built per-row by the codegen'd
    // kernel — the intersection COUNT is hash-representation-invariant,
    // so the string-shingle oracle replays it exactly
    val sh = hashedShingleSet(docs, k).cache()
    val filtered =
      if (maxPostings == Int.MaxValue) sh
      else sh.join(
        sh.groupBy("shingle").agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxPostings).select("shingle"),
        Seq("shingle"))
    // capped-universe sizes — same rationale as naivePairs
    val sizes = filtered.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    // intersections counted once per UNordered pair (a<b halves the
    // pair-join volume), then expanded to both directed orientations —
    // |A∩B| is symmetric, only the denominator differs
    val common = filtered.as("a")
      .join(filtered.as("b"), Seq("shingle"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("x_id"), col("b.doc_id").as("y_id"))
      .agg(count(lit(1)).as("n_common"))
    val directed = common
      .select(col("x_id").as("a_id"), col("y_id").as("b_id"),
        col("n_common"))
      .unionAll(common.select(col("y_id").as("a_id"),
        col("x_id").as("b_id"), col("n_common")))
    directed
      .join(sizes.withColumnRenamed("doc_id", "a_id")
        .withColumnRenamed("n_sh", "n_a"), Seq("a_id"))
      .withColumn("containment",
        col("n_common").cast("double") / col("n_a").cast("double"))
      .filter(col("containment") >= threshold)
      .select("a_id", "b_id", "n_common", "containment")
  }

  /** CROSS-CORPUS near-dup — the continuous-ingestion path: an
    * incoming shard probes the EXISTING corpus's inverted shingle
    * index; pairs form only ACROSS the two sides (candidate volume =
    * Σ_shingle df_existing × df_incoming, never all-pairs within the
    * union — at 100 TB the existing index is the persisted artifact
    * and each new shard's probe touches only its own shingles'
    * postings). Same exact-Jaccard verify as [[ngramJaccardPairs]].
    */
  def crossCorpusPairs(existing: DataFrame, incoming: DataFrame,
                       k: Int = 3, threshold: Double = 0.8): DataFrame = {
    val ex = hashedShingleSet(existing, k).cache()
    val in = hashedShingleSet(incoming, k).cache()
    def sizes(sh: DataFrame, as: String) = sh.groupBy("doc_id")
      .agg(count(lit(1)).as(s"n_$as"))
      .withColumnRenamed("doc_id", s"${as}_id")
    val common = ex.select(col("doc_id").as("a_id"), col("shingle"))
      .join(in.select(col("doc_id").as("b_id"), col("shingle")),
        Seq("shingle"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("n_common"))
    common
      .join(sizes(ex, "a"), Seq("a_id"))
      .join(sizes(in, "b"), Seq("b_id"))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "n_common", "jaccard")
  }

  /** Cost-based containment — the same physical-plan decision as
    * [[ngramJaccardAuto]]: the naive inverted-index join's volume is
    * exactly Σ df², estimated from one cheap aggregate over the cached
    * shingle set; below the knob the naive plan's fewer stages win,
    * above it the prefix filter's candidate reduction dominates. Both
    * forms return identical pairs (DedupSpec).
    */
  def containmentAuto(docs: DataFrame, k: Int = 3,
                      threshold: Double = 0.9,
                      naiveVolumeLimit: Long = 50_000_000L): DataFrame = {
    // ONE cached shingle set feeds the estimate AND the chosen plan:
    // containmentPairs/Prefix rebuild the identical hashedShingleSet
    // plan, which the cache manager resolves to this materialization
    val sh = hashedShingleSet(docs, k).cache()
    val joinVolume = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .agg(sum(col("df") * col("df"))).head().getLong(0)
    if (joinVolume <= naiveVolumeLimit)
      containmentPairs(docs, k, threshold, maxPostings = Int.MaxValue)
    else containmentPairsPrefix(docs, k, threshold)
  }

  /** Rows-per-bucket target for a segment's postings (~8-10 MB of
    * parquet per bucket at ~10 B/posting). Scale-adaptive (r14, guide
    * §2/§6): a FIXED bucket count is wrong at both ends — at bench SF a
    * 400-doc delta segment paid 32 shuffle tasks + 32 one-KB files + a
    * 32-task probe join per segment (pure fixed cost, measured 1.71 s →
    * 0.99 s on the 3-segment probe when the tiny segments collapse to
    * one bucket), while at lake scale 32 buckets would make multi-GB
    * buckets with no probe parallelism. Buckets =
    * ceil(postings / target), so the layout grows with the segment:
    * sf0.1 delta → 1, sf10 base → ~20 (today's probe parallelism
    * preserved), 100 TB corpus → thousands. Each segment records its
    * count in its `buckets` file, and a chain read groups its segments
    * by that count, so mixed-count chains stay correct by construction;
    * it also cuts a group where its postings per bucket would pass this
    * target ([[scanGroups]]), so no probe task holds more.
    * Build and append take the target as a package-private
    * `perBucket` argument, so specs can build mixed-count chains at
    * test sizes.
    */
  val BucketRows: Long = 1000000L

  /** Bucket count for one segment holding `nPostings` rows. */
  def segmentBuckets(nPostings: Long, perBucket: Long = BucketRows): Int =
    math.max(1L, math.min(4096L,
      (nPostings + perBucket - 1) / perBucket)).toInt

  /** Declared schemas of a segment's three side files. Every read of
    * them passes its schema: a schema-less `spark.read.parquet` runs a
    * footer-inference Spark job per segment and file. Segments are
    * written with these types (doc ids are cast to BIGINT by
    * [[segmentKernel]]).
    */
  private val SideSchemas = Map(
    "postings" -> "doc_id BIGINT, shingle BIGINT",
    "sizes" -> "doc_id BIGINT, n_sh BIGINT",
    "dfreq" -> "shingle BIGINT, df BIGINT")
    .map { case (f, ddl) =>
      f -> org.apache.spark.sql.types.StructType.fromDDL(ddl) }

  /** The layout postings are written in: `n` buckets on shingle,
    * sorted by shingle within each file.
    */
  private def postingsBuckets(n: Int) =
    org.apache.spark.sql.catalyst.catalog.BucketSpec(n, Seq("shingle"),
      Seq("shingle"))

  /** Side file `file` of the segments `segs`, as ONE scan under its
    * declared schema ([[org.apache.spark.sql.graft.ChainRelation]]: one
    * `listStatus` per segment, no catalog table, no job). Plain, or
    * bucketed when every segment's postings were written in `buckets`
    * buckets.
    */
  private def readChain(spark: org.apache.spark.sql.SparkSession,
                        dir: String, segs: Seq[String], file: String,
                        buckets: Option[Int] = None): DataFrame =
    org.apache.spark.sql.graft.ChainRelation.read(spark,
      segs.map(v => s"$dir/$v/$file"), SideSchemas(file),
      buckets.map(postingsBuckets))

  /** The postings of the segments `segs` as BUCKETED scans, grouped
    * by [[scanGroups]], plus one plain scan over the pre-bucketing
    * segments (no `buckets` file): a chain whose segments share a
    * bucket count is one bucketed scan while its postings per bucket
    * stay within [[BucketRows]].
    */
  private[text] def readPostingsGroups(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      segs: Seq[String]): Seq[DataFrame] = {
    val fs = graft.sources.SegmentedIndex.fsFor(spark, dir)
    scanGroups(segs.map(v => v -> readSegmentMeta(fs, dir, v)))
      .map { case (n, vs) => readChain(spark, dir, vs, "postings", n) }
  }

  /** The chain `segs`, each with its `buckets` metadata
    * ([[readSegmentMeta]]), as scan groups (bucket count, segments):
    * segments of one bucket count share a group, in chain order, while
    * the group's postings per bucket stay within [[BucketRows]]. Bucket b of
    * a group's scan is ONE join task over bucket b of every segment in
    * it, so this keeps a probe task within the bound a segment's own
    * sizing gives it, and a chain of many segments keeps one task per
    * (group, bucket). A segment with no recorded postings count is a
    * group of its own; the pre-bucketing segments are one plain group
    * (a plain scan splits by file size). Ordered by bucket count,
    * plain first.
    */
  private[text] def scanGroups(
      segs: Seq[(String, Option[(Int, Option[Long])])])
      : Seq[(Option[Int], Seq[String])] =
    segs.groupBy(_._2.map(_._1)).toSeq.sortBy(_._1.getOrElse(0)).flatMap {
      case (None, vs) => Seq(None -> vs.map(_._1))
      case (n @ Some(b), vs) =>
        val rows = vs.map { case (v, m) =>
          v -> m.flatMap(_._2).fold(Long.MaxValue)(p => (p + b - 1) / b) }
        rows.foldLeft(Vector.empty[(Long, Vector[String])]) {
          case (gs :+ ((load, g)), (v, r)) if r <= BucketRows - load =>
            gs :+ ((load + r, g :+ v))
          case (gs, (v, r)) => gs :+ ((r, Vector(v)))
        }.map(n -> _._2)
    }

  /** A segment's `buckets` metadata file: the postings table's bucket
    * count on the first line, the segment's postings count on the
    * second. Segments written before the count was recorded have the
    * first line only.
    */
  private def metaPath(dir: String, version: String) =
    new org.apache.hadoop.fs.Path(s"$dir/$version/buckets")

  /** (bucket count, postings count) of a segment; None when it has no
    * `buckets` file (a pre-bucketing segment), a None count when the
    * file predates the count line.
    */
  private def readSegmentMeta(fs: org.apache.hadoop.fs.FileSystem,
                              dir: String, version: String)
      : Option[(Int, Option[Long])] = {
    val p = metaPath(dir, version)
    if (!fs.exists(p)) None
    else {
      val lines = graft.sources.PointerFile.read(fs, p).linesIterator
        .map(_.trim).toSeq
      Some((lines.head.toInt, lines.lift(1).map(_.toLong)))
    }
  }

  /** BUILD a persisted inverted shingle index — the standing artifact
    * the continuous-ingestion path ([[crossCorpusPairs]]) probes, so
    * the corpus is shingled/sized ONCE and every arriving shard pays
    * only its own probe. Three tables land in an immutable fresh
    * version dir — `postings` (shingle, doc_id), `sizes`
    * (doc_id, n_sh), `dfreq` (shingle, df: the hot-shingle cap input,
    * precomputed so probes never re-aggregate the corpus) — and a
    * single atomic overwrite-rename flips `_CURRENT`; the 2 newest
    * versions survive GC. Identical crash-safety/concurrent-reader
    * story as [[graft.sim.Similarity.buildIvfIndex]] (shared
    * [[graft.sources.PointerFile]] primitive).
    *
    * Scale: the postings are written bucketed on `shingle` (see
    * [[writeSegmentFiles]]) so probes shuffle only the (small) shard
    * side.
    */
  def buildShingleIndex(docs: DataFrame, dir: String, k: Int = 3): Unit =
    buildShingleIndex(docs, dir, k, BucketRows)

  private[text] def buildShingleIndex(docs: DataFrame, dir: String, k: Int,
                                      perBucket: Long): Unit =
      asOp(docs.sparkSession, "buildShingleIndex") {
    import graft.sources.SegmentedIndex
    val spark = docs.sparkSession
    val version = SegmentedIndex.newVersionName()
    withKernel(docs, k)(writeKernelSegment(_, dir, version, _, perBucket))
    // marker + flip + committed-version-counting GC: a crashed build's
    // partial dir can't evict the last committed version (PointerFile)
    SegmentedIndex.commitBuild(spark, dir, version)
  }

  /** Runs `body` over the (doc_id, sharr) kernel of `docs`
    * ([[segmentKernel]]) and its postings count, then releases the
    * kernel's blocks, also when `body` throws.
    *
    * The PRE-explode kernel is what is materialized: sizes then cost a
    * narrow size(sharr) projection instead of a groupBy over the
    * exploded set, and df comes zero-Exchange off the bucketed
    * postings after they land — the r8 reduction pass that cut the
    * segment write from three 4M-row shuffles to one (BASELINE.md
    * round-8). It is an EAGER local checkpoint with the postings count
    * observed on it, so ONE job computes the kernel, stores its blocks
    * and counts its postings; the count sizes the segment's buckets
    * (r14, scale-adaptive layout — see BucketRows) and tells a quiet
    * append apart. With the round-robin spread that is 2 jobs under
    * AQE (spread, checkpoint), where a cache sized by its own
    * `agg(...).head()` takes 4 (spread, cache fill, partial and final
    * agg). The checkpoint also truncates lineage, so the two concurrent
    * writes never race past an unfilled cache and run the kernel twice
    * (cf. ngramJaccardPairs). Its blocks are dropped on return: left to
    * the ContextCleaner they wait for a GC, and streaming ingest runs
    * this once per micro-batch.
    */
  private def withKernel[T](docs: DataFrame, k: Int)(
      body: (DataFrame, Long) => T): T = {
    val posts = org.apache.spark.sql.Observation()
    val arr = segmentKernel(docs, k)
      .observe(posts, coalesce(sum(size(col("sharr")).cast("long")),
        lit(0L)).as("n"))
      .localCheckpoint()
    try body(arr, posts.get("n").asInstanceOf[Long])
    finally org.apache.spark.sql.graft.LocalCheckpoint.release(arr)
  }

  /** The (doc_id, sharr) kernel a build or append writes, with doc ids
    * cast to the side files' declared BIGINT. Integral ids (TINYINT to
    * BIGINT) widen losslessly, so probe values are unchanged; any other
    * id type is refused before a job runs — a cast would turn it into
    * nulls or a mid-write failure.
    */
  private def segmentKernel(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.types._
    docs.schema("doc_id").dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
      case t => throw new IllegalArgumentException(
        s"shingle index doc_id must be an integral type, got ${t.sql}")
    }
    withShingleArray(docs, k, "doc_id", "text")
      .select(col("doc_id").cast("long").as("doc_id"), col("sharr"))
  }

  /** One segment's files from the PRE-explode kernel `arr` =
    * (doc_id, sharr), already materialized and counted ([[withKernel]]).
    * sharr is the per-doc DISTINCT shingle set, so size(sharr) IS the
    * exploded per-doc count — same n_sh, no shuffle.
    */
  private def writeKernelSegment(arr: DataFrame, dir: String,
                                 version: String, nPost: Long,
                                 perBucket: Long): Unit =
    writeSegmentFiles(
      arr.select(col("doc_id"), explode(col("sharr")).as("shingle")),
      arr.select(col("doc_id"), size(col("sharr")).cast("long").as("n_sh")),
      dir, version, nPost, segmentBuckets(nPost, perBucket))

  /** The files of one postings segment — shared by build, append and
    * compact so all three get the same bucketed layout and the same
    * write shape. `postings` (doc_id, shingle) and `sizes`
    * (doc_id, n_sh) hold the segment's rows; `nPost` is the postings
    * row count and `buckets` the bucket count it sized.
    *
    * Postings are written BUCKETED on shingle, with no catalog table
    * ([[org.apache.spark.sql.graft.ChainRelation.write]]: each file name
    * carries its bucket id, as a bucketed `saveAsTable` names it): every
    * later probe joins on shingle, and a bucketed scan gives that join
    * its postings side with ZERO Exchange — only the (small) incoming
    * shard shuffles, into the bucket partitioning (plan-asserted in
    * DedupSpec). With 2 or more buckets, repartition to the bucket
    * count on the same key first: repartition and the bucketed write
    * share the Murmur3 partitioning, so each task holds exactly one
    * bucket and each bucket lands in ONE file. One bucket needs no
    * exchange for that: a narrow coalesce(1) puts every row in one
    * task, which writes the same single file under the same writer
    * sort.
    *
    * Write-cost shape (r8 reduction pass): the exploded set used to
    * feed THREE shuffled jobs (postings repartition, sizes groupBy
    * doc_id, df groupBy shingle). Off the array kernel, sizes are a
    * NARROW size(sharr) projection (runs concurrently with the
    * postings write), and df aggregates zero-Exchange off the
    * just-written bucketed postings — the segment pays at most one
    * row-level shuffle, the one that defines a multi-bucket layout,
    * and a one-bucket segment none: its files cost 3 jobs (postings,
    * sizes, df), plus the kernel's 2 in a build or append.
    *
    * The `buckets` file records the bucket count and `nPost` (see
    * [[metaPath]]): chain reads group segments by the count, and a
    * later fold sizes itself without reading any segment file.
    */
  private def writeSegmentFiles(postings: DataFrame, sizes: DataFrame,
                                dir: String, version: String,
                                nPost: Long, buckets: Int): Unit = {
    val spark = postings.sparkSession
    concurrently(spark)(
      () => org.apache.spark.sql.graft.ChainRelation.write(
        if (buckets == 1) postings.coalesce(1)
        else postings.repartition(buckets, col("shingle")),
        s"$dir/$version/postings", postingsBuckets(buckets)),
      // coalesce (narrow) into bucket-count-order files: uncoalesced,
      // the write inherited the input's partitioning and a 400-doc
      // delta segment paid 32 tasks + 32 one-KB files per append
      // (guide §6 small files), which every describe/probe/compact
      // reader then re-paid as per-file open cost
      () => sizes.coalesce(buckets)
        .write.mode("errorifexists").parquet(s"$dir/$version/sizes"))
    val fs = graft.sources.SegmentedIndex.fsFor(spark, dir)
    val bf = fs.create(metaPath(dir, version), true)
    try bf.write(s"$buckets\n$nPost".getBytes("UTF-8")) finally bf.close()
    // df per shingle = count over this segment's postings — read back
    // BUCKETED, so the aggregation's required hash-partitioning on
    // shingle is satisfied by the scan itself: no Exchange, cost = one
    // local re-read of the segment
    readChain(spark, dir, Seq(version), "postings", Some(buckets))
      .groupBy("shingle").agg(count(lit(1)).as("df"))
      .write.mode("errorifexists").parquet(s"$dir/$version/dfreq")
  }

  /** Runs `jobs` concurrently, each under the caller's thread-local
    * Spark state (local properties — job group, job tags, SQL
    * execution — and active session), so the jobs they start belong to
    * the caller: cancelling the caller's job group cancels them, and
    * listeners attribute them to it. Pool threads would otherwise carry
    * whatever properties they inherited when the pool created them.
    * Waits for every job, then rethrows the first failure.
    */
  private def concurrently(spark: org.apache.spark.sql.SparkSession)(
      jobs: (() => Unit)*): Unit = {
    import org.apache.spark.sql.execution.SQLExecution
    val session =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val pool = java.util.concurrent.Executors.newFixedThreadPool(jobs.size)
    try {
      val running = jobs.map(j =>
        SQLExecution.withThreadLocalCaptured(session, pool)(j()))
      val failures = running.flatMap(f =>
        scala.util.Try(f.get()).failed.toOption)
      failures.headOption.foreach {
        case e: java.util.concurrent.ExecutionException => throw e.getCause
        case e => throw e
      }
    } finally pool.shutdown()
  }

  /** The postings SEGMENTS a version's data lives in: the `segments`
    * text manifest when present ([[appendShingleIndex]] versions), else
    * the version itself (a base [[buildShingleIndex]] — backward
    * compatible with pre-append indexes). Mirror of the IVF side's
    * `Similarity.indexSegments`.
    */
  def indexSegments(spark: org.apache.spark.sql.SparkSession,
                    dir: String, version: String): Seq[String] =
    graft.sources.SegmentedIndex.segments(spark, dir, version)

  /** Append NEW documents to a persisted shingle index WITHOUT rebuild
    * — continuous corpus ingestion for the standing dedup artifact,
    * the text mirror of `Similarity.appendIvfIndex`. The incoming
    * docs' postings/sizes/dfreq are written as a new SEGMENT (postings
    * bucketed on shingle exactly like the base build, so the probe's
    * bucketed scan of the chain keeps its zero-Exchange co-location),
    * plus a `segments` manifest = parent's manifest + itself; one
    * atomic `_CURRENT` flip commits. I/O ∝ |delta| — never a rebuild —
    * and probes read ALL manifest segments. Doc ids must be new
    * (a doc lives wholly in one segment; same contract as the IVF
    * append), so per-segment candidate pairs are disjoint and the
    * union is exact. Crash-safety inherits the build's protocol: a
    * partial dir (no marker) is never pointed to, and the
    * manifest-aware GC ([[graft.sources.PointerFile.commitVersion]])
    * pins every segment a kept version still references.
    */
  def appendShingleIndex(dir: String, newDocs: DataFrame, k: Int = 3,
                         tag: Option[String] = None): Unit =
    appendShingleIndex(dir, newDocs, k, tag, BucketRows)

  private[text] def appendShingleIndex(dir: String, newDocs: DataFrame,
                                       k: Int, tag: Option[String],
                                       perBucket: Long): Unit =
      asOp(newDocs.sparkSession, "appendShingleIndex") {
    import graft.sources.SegmentedIndex
    val spark = newDocs.sparkSession
    val parent = SegmentedIndex.currentVersion(spark, dir)
    val parentSegs = indexSegments(spark, dir, parent)
    // exactly-once under foreachBatch replay (cf. appendIvfIndex)
    if (!SegmentedIndex.tagCommitted(spark, dir, parentSegs, tag)) {
      val version = SegmentedIndex.newVersionName()
      // a quiet ingest tick (no docs, or none long enough to shingle)
      // commits nothing — an empty segment would be a schema-less
      // parquet dir later probes choke on. The kernel's postings count
      // decides it, with no scan of its own.
      withKernel(newDocs, k) { (arr, nPost) =>
        if (nPost > 0) {
          writeKernelSegment(arr, dir, version, nPost, perBucket)
          SegmentedIndex.commitAppend(spark, dir, version, parent,
            parentSegs, tag)
        }
      }
    }
  }

  /** foreachBatch sink for STREAMING corpus ingest into a persisted
    * shingle index — the text mirror of `Similarity.ivfStreamSink`,
    * with the same exactly-once construction: each append is tagged
    * `<streamId>#<batchId>`, where streamId is the query's stable id
    * from the checkpoint's `metadata` file, so a checkpoint-replayed
    * micro-batch finds its tag on the committed segment chain and
    * no-ops, while a RESET checkpoint mints a fresh tag namespace.
    * Appending whole documents per batch keeps the segment invariant
    * (a doc lives wholly in one segment), so the probe's pairs are
    * batch-split-invariant — streamed ingest ≡ one flat
    * append ≡ a rebuilt index.
    *
    * `maxSegments > 0` turns on SELF-MAINTAINING ingest: after each
    * append commits, a chain longer than the threshold folds via
    * [[compactShingleIndex]] ([[graft.sources.SegmentedIndex.maintain]]
    * has the crash-ordering argument) — probe latency stays at
    * fresh-build shape however long the stream runs, and the `_TAGS`
    * carry keeps checkpoint replays exactly-once across folds.
    */
  def shingleStreamSink(dir: String, checkpointDir: String, k: Int = 3,
                        maxSegments: Int = 0)
      : (DataFrame, Long) => Unit =
    graft.sources.SegmentedIndex.maintainedSink(dir, checkpointDir,
      maxSegments)(appendShingleIndex(dir, _, k, _))(
      compactShingleIndex(_, dir))

  /** COMPACT the standing shingle index: fold the current version's
    * whole segment chain back into ONE bucketed segment — the missing
    * third verb of the standing-index lifecycle (build/append/compact,
    * the same role minor compaction plays in every LSM store). Appends
    * keep ingest I/O ∝ |delta|, but each one adds a postings file set
    * per bucket to the probe's scan (and a segment whose bucket count
    * differs from the chain's, or that would take a probe task past
    * [[BucketRows]], adds a scan and a pair join of its own);
    * after N appends that per-segment fixed cost, not data volume,
    * dominates probe latency. Compaction rewrites the union of all
    * segment postings into the layout a base build writes (bucketed on
    * shingle, one file per bucket: one layout-defining shuffle, none
    * for one bucket), unions the per-doc sizes verbatim (a doc lives
    * wholly in one segment), and recomputes df zero-Exchange off the freshly
    * bucketed postings — summed-across-segments df ≡ recomputed df for
    * disjoint docs, so a df-capped probe of the compacted index is
    * bit-identical to the segmented one. Reads index FILES only, never
    * the corpus (no re-shingling): cost ∝ index size, not corpus text.
    * The fold runs no metadata job: its bucket count comes from the
    * postings counts the segments' `buckets` files record, and every
    * file is read under its declared schema ([[SideSchemas]]) — the
    * same number of Spark jobs at any chain length.
    *
    * The compacted version commits as a fresh BASE (no `segments`
    * manifest) carrying the chain's exactly-once tags forward in
    * `_TAGS` ([[graft.sources.SegmentedIndex.commitCompact]]), so a
    * checkpoint-replayed micro-batch whose segment was folded in still
    * no-ops, and the keep-window GC retains the parent chain for
    * in-flight probes. No-op when the chain is already one segment.
    */
  def compactShingleIndex(spark: org.apache.spark.sql.SparkSession,
                          dir: String): Unit =
      asOp(spark, "compactShingleIndex") {
    import graft.sources.SegmentedIndex
    val parent = SegmentedIndex.currentVersion(spark, dir)
    val segs = indexSegments(spark, dir, parent)
    if (segs.size > 1) foldChain(spark, dir, parent, segs)
  }

  /** The fold of [[compactShingleIndex]]: the chain `segs` of version
    * `parent`, rewritten as one segment and committed.
    */
  private def foldChain(spark: org.apache.spark.sql.SparkSession,
                        dir: String, parent: String,
                        segs: Seq[String]): Unit = {
    import graft.sources.SegmentedIndex
    val version = SegmentedIndex.newVersionName()
    val fs = SegmentedIndex.fsFor(spark, dir)
    // bucket count sized from the FOLDED total, as a build sizes its
    // own: the sum of the chain's recorded postings counts, no job.
    // Segments written before the count was recorded are summed from
    // their sizes (sum(n_sh) IS a segment's postings count) in one
    // metadata-weight agg job.
    val counts =
      segs.map(v => v -> readSegmentMeta(fs, dir, v).flatMap(_._2))
    val legacy = counts.collect { case (v, None) => v }
    val nPost = counts.flatMap(_._2).sum +
      (if (legacy.isEmpty) 0L
       else readChain(spark, dir, legacy, "sizes")
         .agg(coalesce(sum(col("n_sh")), lit(0L))).head().getLong(0))
    // read the chain's postings as ONE PLAIN scan, not a bucketed one:
    // a bucketed scan already reports the target hash partitioning, so
    // Catalyst would elide the repartition in writeSegmentFiles — and
    // the bucketed WRITE would then emit one file per (segment, bucket)
    // instead of per bucket, i.e. exactly the file population
    // compaction exists to collapse (and a chain of mixed bucket counts
    // has no one partitioning to claim). A plain scan carries no
    // partitioning claim, so a multi-bucket fold keeps its
    // layout-defining shuffle; a fold to one bucket coalesces every
    // row into one writer task, with no shuffle (3 jobs: postings,
    // sizes, df). Sizes carry over verbatim (a doc lives wholly in one
    // segment); df is recomputed off the new bucketed postings, which
    // equals the probe's summed-across-segments df.
    writeSegmentFiles(readChain(spark, dir, segs, "postings"),
      readChain(spark, dir, segs, "sizes"), dir, version, nPost,
      segmentBuckets(nPost))
    SegmentedIndex.commitCompact(spark, dir, version, parent,
      SegmentedIndex.committedTags(fs, dir, segs))
  }

  /** DESCRIBE the standing shingle index — the observability verb of
    * the lifecycle (build/append/stream/compact/describe): one row per
    * segment of the current committed version, in manifest order, with
    * the row populations an operator sizes probes and schedules
    * compaction by. Reads only the index's small side files (`sizes`
    * rows are one per doc and `dfreq` one per distinct shingle —
    * `sum(n_sh)` IS the postings row count by construction), so the
    * cost is ∝ metadata, never corpus or postings volume: the shape
    * `DESCRIBE DETAIL` has in lakehouse tables. Each side file is ONE
    * scan over the whole chain, each row tagged with the segment whose
    * file holds it, and one aggregate over both scans and one row per
    * segment counts every segment: 2 jobs at any chain length. The row
    * per segment keeps a segment with no rows (a build over docs too
    * short to shingle writes one) in the result.
    */
  def describeShingleIndex(spark: org.apache.spark.sql.SparkSession,
                           dir: String): DataFrame = {
    import graft.sources.SegmentedIndex
    val ver = SegmentedIndex.currentVersion(spark, dir)
    val segs = SegmentedIndex.segments(spark, dir, ver)
    val segOrd = typedlit(segs.zipWithIndex.toMap)
    def tagged(file: String, cols: Column*) =
      readChain(spark, dir, segs, file).select(element_at(segOrd,
        regexp_extract(col("_metadata.file_path"), s"([^/]+)/$file/", 1))
        .as("seg_ord") +: cols: _*)
    val none = lit(null).cast("long")
    spark.range(0, segs.size, 1, 1)
      .select(col("id").cast("int").as("seg_ord"),
        none.as("doc_id"), none.as("n_sh"), lit(0L).as("n_df"))
      .unionAll(tagged("sizes", col("doc_id"), col("n_sh"), lit(0L)))
      .unionAll(tagged("dfreq", none, none, lit(1L)))
      .groupBy("seg_ord")
      .agg(count(col("doc_id")).as("n_docs"),
        sum(col("n_sh")).as("n_postings"),
        sum(col("n_df")).as("n_shingles"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
  }

  /** The distinct k-shingle hashes of a phrase, computed by the SAME
    * codegen kernel that built the index (`graft_shingles` over the
    * token split) — search correctness depends on the needle and the
    * corpus hashing identically, so there is exactly one code path.
    * Driver-side and bounded by phrase length (a search needle, not a
    * document).
    */
  def phraseShingles(spark: org.apache.spark.sql.SparkSession,
                     phrase: String, k: Int = 3): Seq[Long] = {
    require(phrase.trim.split(" ").length >= k,
      s"phrase needs >= $k tokens for k=$k shingle search")
    spark.range(1)
      .select(org.apache.spark.sql.graft.Native
        .shingles(split(lit(phrase), " "), k).as("sharr"))
      .head().getSeq[Long](0)
  }

  /** PHRASE SEARCH through the standing shingle index — grep the
    * corpus without scanning it. A document whose token stream
    * contains the phrase necessarily carries ALL of the phrase's
    * k-shingles in its indexed shingle set, so the index gives a
    * complete candidate list from the postings of just those
    * |phrase|−k+1 shingle hashes: an IN filter the parquet scan pushes
    * down, and the per-bucket shingle sort order turns into row-group
    * pruning — the scan cost is the needle's posting mass, never the
    * index (let alone the corpus). Shingle match is necessary but not
    * sufficient (hash collisions; tokens present in a different
    * order), so candidates — a broadcast-small set by construction —
    * verify against the documents table with the exact
    * substring-at-token-boundary predicate. The classic
    * index-gives-candidates / table-gives-tuples split: at 100 TB the
    * alternative is a full scan of every text byte per search.
    *
    * Returns the matching doc_ids. `docs` must be the corpus the
    * index was built+appended from (the index stores no text).
    */
  def searchShingleIndex(spark: org.apache.spark.sql.SparkSession,
                         dir: String, phrase: String, docs: DataFrame,
                         k: Int = 3): DataFrame =
      asOp(spark, "searchShingleIndex") {
    import graft.sources.SegmentedIndex
    val ver = SegmentedIndex.currentVersion(spark, dir)
    val sh = phraseShingles(spark, phrase, k)
    // within one segment postings are distinct (doc, shingle) pairs
    // and a doc lives wholly in one segment — count(*) == n distinct
    // matched shingles; == |needle shingles| is the conjunction. One
    // plain scan over the chain: the filter and the doc_id aggregate
    // gain nothing from the shingle buckets.
    val cands = readChain(spark, dir, indexSegments(spark, dir, ver),
        "postings")
      .filter(col("shingle").isin(sh: _*))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
      .filter(col("n_hit") === sh.distinct.length)
      .select("doc_id")
    val needle = s" $phrase "
    docs.join(broadcast(cands), Seq("doc_id"), "left_semi")
      .filter(instr(concat(lit(" "), col("text"), lit(" ")),
        lit(needle)) > 0)
      .select("doc_id")
  }

  /** Probe the persisted index with an incoming shard: same answer as
    * [[crossCorpusPairs]](indexed corpus, incoming) — a_id from the
    * standing corpus, b_id from the shard — but the corpus-side
    * shingling, sizing, and document frequencies are READ, not
    * recomputed. The probe reads every SEGMENT the current version's
    * manifest lists (one for a plain build, one more per append) as
    * bucketed postings scans grouped by bucket count
    * ([[readPostingsGroups]]) — ONE scan and ONE pair join for a
    * uniform chain while its postings per bucket stay within
    * [[BucketRows]] — each join keeping its zero-Exchange
    * bucketed co-location; `sizes` and `dfreq` are one scan each. A
    * corpus doc lives wholly in one segment, so candidate pairs from
    * different segments are disjoint and their union is exact.
    * `maxPostings` drops degenerate boilerplate shingles
    * via the precomputed df tables — document frequency is summed
    * ACROSS segments first, so the capped universe is identical to a
    * rebuilt index's (a per-segment cap would resurrect boilerplate
    * that only crosses the threshold in aggregate). A df-capped probe
    * is the production default; Int.MaxValue restores exact parity
    * with the uncapped formulation.
    */
  def probeShingleIndex(dir: String, incoming: DataFrame, k: Int = 3,
                        threshold: Double = 0.8,
                        maxPostings: Int = Int.MaxValue): DataFrame =
      asOp(incoming.sparkSession, "probeShingleIndex") {
    val spark = incoming.sparkSession
    val version =
      graft.sources.SegmentedIndex.currentVersion(spark, dir)
    val segs = indexSegments(spark, dir, version)
    val postings = readPostingsGroups(spark, dir, segs)
    val exSizes = readChain(spark, dir, segs, "sizes")
    // localCheckpoint, not cache (cf. ngramJaccardPairs): the probe
    // references the shard kernel once per postings join PLUS the n_b
    // sizes, and AQE materializes those exchanges concurrently — a
    // lazy cache lets them race past the unfilled cache and run the
    // kernel several times. The eager checkpoint computes it exactly
    // once and truncates lineage. Checkpointing the PRE-explode array
    // kernel keeps the materialized blocks small and makes the
    // uncapped n_b a narrow size(sharr) projection (no shuffle).
    val arr0 = withShingleArray(incoming, k, "doc_id", "text")
      .localCheckpoint()
    val in0 = arr0.select(col("doc_id"), explode(col("sharr")).as("shingle"))
    // Under a df-cap, similarity is defined over the CAPPED shingle
    // universe on BOTH sides (cf. naivePairs): the persisted corpus
    // sizes are uncapped, so subtract each doc's over-cap shingle
    // count — that adjustment scan touches only the over-cap postings,
    // i.e. cost ∝ the boilerplate mass being dropped, never the index.
    // The shard keeps its novel (df-absent) shingles: only shingles
    // KNOWN to be over-cap are removed from it.
    val (posts, in, exSizesEff) =
      if (maxPostings == Int.MaxValue) (postings, in0, exSizes)
      else {
        val dfreq = readChain(spark, dir, segs, "dfreq")
          .groupBy("shingle").agg(sum(col("df")).as("df"))
        val overCap = dfreq.filter(col("df") > maxPostings)
          .select("shingle")
        // drop over-cap postings via LEFT ANTI against the over-cap
        // set — NOT a positive join with the under-cap vocab: overCap
        // is boilerplate-sized (broadcastable at any corpus), while
        // the under-cap vocab grows with the corpus past the broadcast
        // threshold, at which point the positive join SHUFFLES the
        // whole postings table and destroys its bucketed co-location
        // (measured at sf30: 7.3 s capped vs 1.8 s uncapped on the
        // fixed shard; anti-join restores ~uncapped cost). Equivalent
        // filter: every postings shingle is in dfreq, so
        // "not over-cap" ≡ "under-cap".
        val p = postings.map(
          _.join(broadcast(overCap), Seq("shingle"), "left_anti"))
        val i = in0.join(broadcast(overCap), Seq("shingle"), "left_anti")
        val drops = readChain(spark, dir, segs, "postings")
          .join(broadcast(overCap), Seq("shingle"))
          .groupBy("doc_id").agg(count(lit(1)).as("n_drop"))
        val adj = exSizes.join(drops, Seq("doc_id"), "left")
          .select(col("doc_id"),
            (col("n_sh") - coalesce(col("n_drop"), lit(0L))).as("n_sh"))
        (p, i, adj)
      }
    // one pair join per bucket-count group (one in a uniform chain),
    // all sharing ONE shard subtree (a per-join select would mint fresh
    // exprIds and defeat ReuseExchange — the shard's broadcast then
    // materializes once), and ONE pair aggregation above them: the
    // groups' candidate sets are disjoint (a doc lives wholly in one
    // segment)
    val inSel = in.select(col("doc_id").as("b_id"), col("shingle"))
    val common = posts.map(pp =>
        pp.select(col("doc_id").as("a_id"), col("shingle"))
          .join(inSel, Seq("shingle"))
          .select(col("a_id"), col("b_id")))
      .reduce(_ unionAll _)
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("n_common"))
    // uncapped, n_b is a NARROW projection off the checkpointed array
    // kernel (sharr is the per-doc distinct set); under a cap the
    // shard lost its over-cap shingles, so count what survived
    val nB =
      if (maxPostings == Int.MaxValue)
        arr0.select(col("doc_id").as("b_id"),
          size(col("sharr")).cast("long").as("n_b"))
      else in.groupBy("doc_id").agg(count(lit(1)).as("n_b"))
        .withColumnRenamed("doc_id", "b_id")
    common
      .join(exSizesEff.select(col("doc_id").as("a_id"),
        col("n_sh").as("n_a")), Seq("a_id"))
      .join(nB, Seq("b_id"))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "n_common", "jaccard")
  }

  /** n-gram Jaccard with PREFIX FILTERING (PPJoin-style) — the 100 TB
    * path. Under a global canonical shingle order (df asc, hash asc),
    * two sets with J ≥ τ MUST share a shingle within each one's first
    * |X| - ⌈τ|X|⌉ + 1 shingles; so only prefixes enter the pair-making
    * join (~(1-τ)² of the naive join volume) and full sets are consulted
    * only to verify surviving candidates. Lossless: returns exactly
    * [[ngramJaccardPairs]]' answer (prefix length padded +1 to absorb
    * float rounding in ⌈τ·n⌉).
    */
  def ngramJaccardPairsPrefix(docs: DataFrame, k: Int = 3,
                              threshold: Double = 0.8): DataFrame = {
    val sh = hashedShingleSet(docs, k).cache()
    prefixPairs(sh, sh.groupBy("shingle").agg(count(lit(1)).as("df")),
      threshold)
  }

  /** The per-doc canonical PREFIX (rarest shingles first): the first
    * n − ⌈τ·n⌉ + 2 shingles of each doc under (df asc, shingle asc)
    * order. The prefix length is data-dependent, but it is bounded by
    * the corpus-wide maximum — a LITERAL the ranking filter states
    * first, so Catalyst inserts a `WindowGroupLimit` below the window
    * shuffle: each map task keeps a per-doc heap of ≤ maxL rows
    * instead of shuffling and sorting the ENTIRE shingle multiset per
    * doc (at sf1 that is a ~14× row reduction into the window
    * exchange). The exact per-doc length filter sits above; the bound
    * is driver-computed from one single-row aggregate over doc sizes.
    */
  private def prefixOf(sh: DataFrame, dfreq: DataFrame, sizes: DataFrame,
                       threshold: Double): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("shingle"))
    // coalesce: max over ZERO docs is NULL — an empty corpus must
    // yield an empty prefix, not an NPE on getLong (ADVICE r4)
    val maxL = sizes
      .select((col("n_sh") - ceil(lit(threshold) * col("n_sh")) + 2)
        .cast("long").as("L"))
      .agg(coalesce(max(col("L")), lit(0L))).head().getLong(0)
    sh.join(dfreq, Seq("shingle"))
      .withColumn("pos", row_number().over(w))
      .filter(col("pos") <= lit(maxL))
      .join(sizes, Seq("doc_id"))
      .filter(col("pos") <=
        col("n_sh") - ceil(lit(threshold) * col("n_sh")) + 2)
      .select("doc_id", "shingle")
  }

  private def prefixPairs(sh: DataFrame, dfreq: DataFrame,
                          threshold: Double): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    // canonical order: rarest shingles first ⇒ smallest posting lists
    // do the candidate generation.
    val prefix = prefixOf(sh, dfreq, sizes, threshold)
    val cands = prefix.as("a").join(prefix.as("b"), Seq("shingle"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    // verify candidates against FULL sets: exact intersection counts.
    val common = cands
      .join(sh.select(col("doc_id").as("a_id"), col("shingle")), Seq("a_id"))
      .join(sh.select(col("doc_id").as("b_id"), col("shingle")),
        Seq("b_id", "shingle"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("n_common"))
    finishJaccard(common, sizes, threshold)
  }

  /** Prefix-filtered containment — the 100 TB form of
    * [[containmentPairs]]. Pigeonhole: containment(A→B) ≥ τ needs
    * |A∩B| ≥ ⌈τ|A|⌉, so if B misses ALL of A's first
    * |A| − ⌈τ|A|⌉ + 1 shingles (canonical df-asc order), the overlap
    * can't reach the bound — only A-side PREFIXES probe the index.
    * Asymmetric by nature: the B side cannot prune (any B shingle may
    * count toward someone else's containment), so candidates are
    * prefix(A) ⋈ full-index — ~(1−τ) of the naive volume on the A
    * side, exact verification against full sets after. Lossless
    * (equality vs the naive form pinned in DedupSpec; prefix +1 pad
    * absorbs ⌈τ·n⌉ float rounding).
    */
  def containmentPairsPrefix(docs: DataFrame, k: Int = 3,
                             threshold: Double = 0.9): DataFrame = {
    val sh = hashedShingleSet(docs, k).cache()
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    // cached: the prefix bound materializes it, then the prefix join,
    // the size prune (twice) and the denominator reuse it — one row
    // per doc, metadata-sized
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      .cache()
    val prefix = prefixOf(sh, dfreq, sizes, threshold)
    val cands = prefix.as("a").join(sh.as("b"), Seq("shingle"))
      .filter(col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
      // second pigeonhole, on SIZES: n_common ≤ min(n_a, n_b), so
      // containment ≥ τ needs n_b ≥ ⌈τ·n_a⌉ — prune those candidates
      // BEFORE the full-set verify joins (the expensive stage). The −1
      // pad absorbs ⌈τ·n⌉ float rounding (mirror of the prefix +2 pad):
      // it can only under-prune, so the form stays lossless vs naive.
      .join(sizes.select(col("doc_id").as("a_id"),
        col("n_sh").as("n_a")), Seq("a_id"))
      .join(sizes.select(col("doc_id").as("b_id"),
        col("n_sh").as("n_b")), Seq("b_id"))
      .filter(col("n_b") >= ceil(lit(threshold) * col("n_a")) - lit(1))
      .select("a_id", "b_id")
    cands
      .join(sh.select(col("doc_id").as("a_id"), col("shingle")), Seq("a_id"))
      .join(sh.select(col("doc_id").as("b_id"), col("shingle")),
        Seq("b_id", "shingle"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.withColumnRenamed("doc_id", "a_id")
        .withColumnRenamed("n_sh", "n_a"), Seq("a_id"))
      .withColumn("containment",
        col("n_common").cast("double") / col("n_a").cast("double"))
      .filter(col("containment") >= threshold)
      .select("a_id", "b_id", "n_common", "containment")
  }

  /** Cost-based choice between the naive inverted-index join and the
    * prefix-filtered join: the naive join's row volume is exactly
    * Σ df(shingle)² — one cheap aggregation to estimate. Below
    * `naiveVolumeLimit` rows the naive plan's two fewer stages win;
    * above it (the 100 TB regime) prefix filtering's ~(1-τ)² candidate
    * reduction dominates. Both plans return identical results
    * (ScaleSpec equivalence), so this is a pure physical-plan decision —
    * the same shape as Catalyst choosing broadcast vs sort-merge.
    */
  def ngramJaccardAuto(docs: DataFrame, k: Int = 3, threshold: Double = 0.8,
                       naiveVolumeLimit: Long = 50_000_000L): DataFrame = {
    // ONE cached shingle set feeds the estimate AND the chosen plan —
    // the estimating pass materializes the cache the real query reuses.
    val sh = hashedShingleSet(docs, k).cache()
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val joinVolume = dfreq.agg(sum(col("df") * col("df")))
      .head().getLong(0)
    if (joinVolume <= naiveVolumeLimit)
      naivePairs(sh, threshold, maxPostings = Int.MaxValue)
    else
      prefixPairs(sh, dfreq, threshold)
  }

  /** Connected components over a near-dup pair list: every document
    * gets the MINIMUM doc id reachable through dup edges as its cluster
    * id — the canonical "keep one representative per duplicate cluster"
    * step that follows any pairwise dedup method.
    *
    * Algorithm: large-star-ish label propagation — each node repeatedly
    * adopts the min label in its closed neighborhood until fixpoint.
    * Per iteration: one join on the (symmetrized) edge list + one
    * min-aggregate — two key shuffles, both on uniform ids. Iteration
    * count is the cluster DIAMETER (dup clusters are tiny and dense, so
    * 2–4 in practice), independent of corpus size; the driver loop only
    * checks a convergence count per round. Deterministic result (min id
    * is algorithm-independent), so the DuckDB oracle can state it as a
    * recursive reachability query.
    */
  def dupClusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // localCheckpoint (not cache) on BOTH the edge list and each
    // iteration's labels: caching alone keeps the full logical plan, so
    // the analyzer/optimizer re-walk a tree that grows by one
    // join+union+agg layer per iteration — planning cost quadratic in
    // iterations, and a lost executor would recompute the entire pair
    // pipeline. Checkpointing truncates lineage to the materialized
    // blocks, so every iteration plans/compiles the same tiny 3-node
    // plan. (On a real cluster `spark.checkpoint` to reliable storage
    // every N iterations is the durable variant; the loop structure is
    // identical.)
    //
    // One ACTION per iteration, not two (r15, guide §5 driver/job fixed
    // cost): the checkpoints are LAZY — the convergence-sum action that
    // every iteration needs anyway is what materializes the iteration's
    // label blocks, instead of an eager-checkpoint job followed by a
    // separate sum job over the same blocks. The query is fixed-overhead
    // bound (~16 MB of shuffle across ~28 scheduled jobs at sf0.1), so
    // halving the per-iteration action count attacks the real cost; the
    // lineage-truncation and fault-recovery story above is unchanged.
    val edges = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      .distinct()
      .localCheckpoint(eager = false)
    var labels = edges.select(col("src").as("id"))
      .distinct()
      .withColumn("lbl", col("id"))
      .localCheckpoint(eager = false)
    // labels only ever DECREASE, so Σ lbl is strictly monotone until the
    // fixpoint — one cheap sum per iteration detects convergence, no
    // old-vs-new comparison join. The sum is ALSO the materializing
    // action for the lazy checkpoint above.
    var prevSum = Option.empty[String]
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // min label over the closed neighborhood {self} ∪ neighbors
      val next = edges
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .select(col("src").as("id"), col("lbl"))
        .union(labels)
        .groupBy("id").agg(min("lbl").as("lbl"))
        .localCheckpoint(eager = false)
      // exact decimal sum — a long sum could overflow-alias with 64-bit
      // ids at lake scale
      val s = next.agg(sum(col("lbl").cast("decimal(38,0)")))
        .head().getDecimal(0).toString
      labels.unpersist()
      labels = next
      converged = prevSum.contains(s)
      prevSum = Some(s)
      iter += 1
    }
    edges.unpersist()
    labels.withColumnRenamed("id", "doc_id")
      .withColumnRenamed("lbl", "cluster_id")
  }

  /** Deterministic 64-bit hash of a shingle under permutation `seed`. */
  private def seededHash(c: Column, seed: Int): Column =
    xxhash64(c, lit(seed))

  /** MinHash signatures: `numHashes` min-aggregations over the shingle
    * set — one groupBy(doc), partial-aggregated map-side, constant state
    * per doc regardless of document length.
    */
  def minHashSignatures(docs: DataFrame, numHashes: Int = 16, k: Int = 3)
      : DataFrame =
    withShingleArray(docs, k, "doc_id", "text")
      .select(col("doc_id"),
        org.apache.spark.sql.graft.Native.minhash(col("sharr"), numHashes)
          .as("sig"))

  /** The pre-native formulation — explode + numHashes min-aggregates
    * (hash each shingle once, derive permutations by re-hashing the
    * 8-byte value). Kept as the equivalence reference for the codegen'd
    * `graft_minhash` kernel (MinHashExpressionSpec); the kernel gives
    * bit-identical signatures with zero shuffle.
    */
  def minHashSignaturesAgg(docs: DataFrame, numHashes: Int = 16, k: Int = 3)
      : DataFrame = {
    val sh = hashedShingleSet(docs, k)
      .withColumnRenamed("shingle", "h0")
    val mins = (0 until numHashes)
      .map(i => min(seededHash(col("h0"), i)).as(s"h$i"))
    sh.groupBy("doc_id").agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** MinHash + LSH banding: split the signature into `bands` bands of
    * r = numHashes/bands rows; docs sharing any band bucket are
    * candidates; estimated Jaccard = fraction of matching signature
    * positions. Candidate volume is driven by the banding probability
    * 1-(1-J^r)^b, not by corpus size — the 100 TB-safe path.
    */
  def minHashLshPairs(docs: DataFrame, numHashes: Int = 16, bands: Int = 4,
                      k: Int = 3, threshold: Double = 0.7): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val sigs = minHashSignatures(docs, numHashes, k).cache()
    val banded = sigs.select(col("doc_id"), col("sig"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
          xxhash64(concat_ws(",",
            (0 until r).map(j =>
              element_at(col("sig"), b * r + j + 1).cast("string")): _*), b))))
      .select(col("doc_id"), col("sig"), col("pos").as("band"),
        col("col").as("bucket"))
    val cands = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
    cands.withColumn("est_jaccard",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1.0).otherwise(0.0)),
          lit(0.0), (acc, v) => acc + v) / lit(numHashes.toDouble))
      .filter(col("est_jaccard") >= threshold)
      .select("a_id", "b_id", "est_jaccard")
  }

  /** PORTABLE-hash MinHash signatures: md5-seeded permutations over
    * string k-shingles (`graft_minhash_md5` kernel) — bit-reproducible
    * by any engine with md5, so the whole LSH dedup pipeline becomes
    * externally hash-verifiable. [[minHashSignatures]] (xxhash64, 8-byte
    * signature values) stays the production path: 4× smaller signatures
    * and a ~10× cheaper hash; this variant trades that for portability.
    */
  def minHashSignaturesMd5(docs: DataFrame, numHashes: Int = 16, k: Int = 3,
                           idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame =
    docs.where(expr(s"size(split($textCol, chr(32))) >= $k"))
      .select(col(idCol).as("doc_id"),
        org.apache.spark.sql.graft.Native
          .minhashMd5(split(col(textCol), " "), numHashes, k).as("sig"))

  /** [[minHashLshPairs]] over md5-seeded signatures, with md5 band
    * buckets — identical banding/verify shape, every value replayable
    * in portable SQL (bucket = md5 of the band's comma-joined sig
    * slice; est_jaccard = matching positions / numHashes).
    */
  def minHashLshPairsMd5(docs: DataFrame, numHashes: Int = 16,
                         bands: Int = 4, k: Int = 3,
                         threshold: Double = 0.7): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val sigs = minHashSignaturesMd5(docs, numHashes, k).cache()
    val bucketCols = (0 until bands).map { b =>
      md5(concat_ws(",",
        (0 until r).map(j => element_at(col("sig"), b * r + j + 1)): _*))
    }
    val banded = sigs.select(col("doc_id"), col("sig"),
        posexplode(array(bucketCols: _*)))
      .select(col("doc_id"), col("sig"), col("pos").as("band"),
        col("col").as("bucket"))
    val cands = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
    cands.withColumn("est_jaccard",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1.0).otherwise(0.0)),
          lit(0.0), (acc, v) => acc + v) / lit(numHashes.toDouble))
      .filter(col("est_jaccard") >= threshold)
      .select("a_id", "b_id", "est_jaccard")
  }

  /** SimHash: 64-bit locality-sensitive digest — bit b of the digest is
    * the sign of Σ±1 over token hashes' bit b. Near-dup ⇔ small Hamming
    * distance. Banded on 4×16-bit chunks for candidate generation, then
    * exact Hamming check via bit_count(xor).
    */
  def simHash(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      org.apache.spark.sql.graft.Native.simhash(tokens(col(textCol)))
        .as("simhash"))

  /** The pre-native formulation — explode + 64 per-bit sign sums in one
    * groupBy (map-side partials). Kept as the equivalence reference for
    * the codegen'd `graft_simhash` kernel (SimHashExpressionSpec); the
    * kernel gives the same digests with zero shuffle.
    */
  def simHashAggFormulation(docs: DataFrame, idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame = {
    val tokHash = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
    val bitSums = (0 until 64).map(b =>
      sum(expr(s"IF((shiftright(h, $b) & 1L) = 1L, 1, -1)")).as(s"s$b"))
    val assembled = (0 until 64)
      .map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(0L))
      .reduce(_ + _)
    tokHash.groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), assembled.as("simhash"))
  }

  /** PORTABLE-hash SimHash: md5 token hashes, digest as a 64-char
    * '0'/'1' string (`graft_simhash_md5`) — reproducible by any engine
    * with md5 + bit extraction. [[simHash]] (xxhash64 → one long) stays
    * the production path; a string digest costs 8× the bytes but no
    * two engines have to agree on 2⁶³ long-overflow semantics.
    */
  def simHashMd5(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      org.apache.spark.sql.graft.Native.simhashMd5(tokens(col(textCol)))
        .as("simhash_bits"))

  /** [[simHashPairs]] over the md5 bit-string digest: candidates share
    * one of four 16-char bands; Hamming distance = differing positions.
    */
  def simHashPairsMd5(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    // the bit STRING is the oracle-portable signature; for the verify
    // step it parses into two uint32 longs ONCE PER SIGNATURE so the
    // per-pair Hamming is codegen'd bit_count(xor) — the string-walk
    // formulation (64 substrings per PAIR, interpreted lambda) was
    // measured 50 µs/pair at 286k candidate pairs (profiled r3: 15 s →
    // sub-second; same-language simhashes correlate, so 16-bit bands
    // collide heavily and the verify step dominates)
    val sh = simHashMd5(docs)
      .withColumn("h1",
        conv(substring(col("simhash_bits"), 1, 32), 2, 10).cast("long"))
      .withColumn("h2",
        conv(substring(col("simhash_bits"), 33, 32), 2, 10).cast("long"))
      .cache()
    val banded = sh.select(col("doc_id"), col("h1"), col("h2"),
        posexplode(array((0 until 4).map(b =>
          substring(col("simhash_bits"), b * 16 + 1, 16)): _*)))
      .select(col("doc_id"), col("h1"), col("h2"), col("pos").as("band"),
        col("col").as("bucket"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.h1").as("ah1"), col("a.h2").as("ah2"),
        col("b.h1").as("bh1"), col("b.h2").as("bh2"))
      .distinct()
      .withColumn("hamming",
        (bit_count(col("ah1").bitwiseXOR(col("bh1"))) +
          bit_count(col("ah2").bitwiseXOR(col("bh2")))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("a_id", "b_id", "hamming")
  }

  /** SimHash near-dup pairs: candidates share one of four 16-bit bands,
    * verified by Hamming distance ≤ maxHamming.
    */
  def simHashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val sh = simHash(docs).cache()
    val banded = sh.select(col("doc_id"), col("simhash"),
        posexplode(expr(
          "transform(sequence(0, 3), b -> " +
            "shiftright(simhash, b * 16) & 65535L)")))
      .select(col("doc_id"), col("simhash"), col("pos").as("band"),
        col("col").as("bucket"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.simhash").as("ha"), col("b.simhash").as("hb"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("hamming") <= maxHamming)
      .select("a_id", "b_id", "hamming")
  }
}
