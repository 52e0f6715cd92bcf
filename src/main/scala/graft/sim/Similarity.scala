package graft.sim

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ChainRelation
import org.apache.spark.sql.types._

import graft.sources.SegmentedIndex

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths, per the scale doctrine:
  *  - brute-force cosine top-k for a SMALL query set: broadcast the
  *    queries, one scan of the corpus, per-query top-k — linear in
  *    corpus size, embarrassingly parallel, the exact baseline.
  *  - LSH-bucketed ANN (random hyperplanes) for query sets that scale
  *    with the corpus: candidates share a bucket in ≥1 of L tables, so
  *    compared pairs ∝ collision mass, never |corpus|².
  *
  * All kernels are SQL higher-order functions (`zip_with`/`aggregate`) —
  * codegen'd, no UDF boxing on the hot path.
  */
object Similarity {

  /** Left-fold dot product in index order (bitwise-deterministic).
    * Backed by the native codegen'd [[graft.functions.DotProduct]];
    * [[dotHof]] is the SQL higher-order-function formulation it
    * replaced — numerically identical, kept as executable documentation
    * and the fallback a pure-SQL consumer would use.
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.Native.dot(a, b)

  /** HOF formulation of [[dot]] (interpreted lambdas; ~10× slower). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Default IVF cell population the scaled `nlist` targets: nlist =
    * ceil(n / 256) keeps per-cell candidate count (and so probe cost at
    * fixed nprobe, and block size in [[knnJoinCells]]) CONSTANT as the
    * corpus grows — the knob every production ANN store turns
    * (nlist ∝ corpus, VERDICT r6 item 1; measured recall-vs-SF table in
    * BASELINE.md).
    */
  val TargetCellSize = 256

  /** Hard ceiling on a DERIVED nlist for the default driver-trained
    * path. The engine carries centroids as plan-bound objects (the
    * native [[nearestCellStructs]] kernel — O(1) generated source and
    * per-row cost nlist fused cosines, so codegen no longer bounds
    * nlist) and trains driver-side on a bounded sample — right up to
    * a few thousand cells (the ≤10⁶-vector scales this repo
    * measures). Beyond the cap, [[trainCentroidsSharded]] is the
    * primary-capable path (r12): per-hash-shard executor k-means →
    * merge → distributed Lloyd ([[refineCentroids]]); measured at
    * n = 2²⁰ the uncapped 4096-cell index probes 142× fewer
    * candidates at equal tuned recall (BASELINE.md round-12). The cap
    * makes the driver-training boundary explicit, not a capability
    * limit.
    */
  val MaxDerivedNlist = 1024

  /** nlist ∝ corpus: ceil(n / [[TargetCellSize]]), floored at 16 (the
    * small-corpus regime where fewer cells than probes would be
    * degenerate) and capped at [[MaxDerivedNlist]]. Every IVF entry
    * point derives this when not given an explicit nlist. Oracle
    * mirror (DuckDB): least(1024, greatest(16, (n + 255) // 256)).
    */
  def deriveNlist(n: Long): Int =
    math.min(MaxDerivedNlist.toLong,
      math.max(16L, (n + TargetCellSize - 1) / TargetCellSize)).toInt

  /** Training-sample size for a given nlist: ≥32 points per centroid
    * (k-means needs tens of points per cell to place it meaningfully),
    * floored at the legacy 2000, capped so driver-side Lloyd stays
    * sub-minute at the largest derived nlist (cost ∝ sampleN·nlist·dim
    * per iteration).
    */
  def deriveSampleN(nlist: Int): Int =
    math.min(32768, math.max(2000, 32 * nlist))

  /** Default nprobe for a given nlist: 3/16 of the cells, floored at 3
    * — i.e. the DEFAULT holds probed COVERAGE constant as nlist scales
    * with the corpus, which is what holds measured recall flat on a
    * decorrelated corpus (RecallProbe table in BASELINE.md: at fixed
    * nprobe=3 recall decays with ANY quantizer — 16 fixed cells decay
    * 0.65→0.45 across 10× data, corpus-scaled cells 0.65→0.25 — while
    * fixed-coverage holds 0.65→0.65; planted near-identical neighbors,
    * the dedup workload, stay found at fixed nprobe=3 regardless).
    * Candidate count under the default is coverage·n — the same linear
    * law the fixed-16-cell quantizer had — while cell size stays
    * bounded, which is what the cell-refined kNN join and the
    * partition-pruned probe actually need from nlist ∝ corpus. A
    * caller that wants the bounded-candidate regime (cost ∝
    * nprobe·TargetCellSize, recall decaying with scale) pins nprobe
    * explicitly.
    * Oracle mirror (DuckDB): greatest(3, (3*nlist + 8) // 16).
    */
  def deriveNprobe(nlist: Int): Int =
    math.max(3, (3 * nlist + 8) / 16)

  // ---- deterministic-training memo (VERDICT r11 item 1) -------------
  // Training a coarse quantizer / PQ codebook / nprobe frontier is a
  // PURE DETERMINISTIC function of (corpus contents, params): no RNG,
  // hash-selected sample, maxmin seeding, fixed-iteration Lloyd — the
  // oracles pin its output BY VALUE at three scale factors. A
  // self-contained query inventory therefore retrains identical
  // artifacts once per query (~1000 s of the 1853 s sf10 bench); a
  // production store trains once and probes many. This JVM-local memo
  // gives the inventory the production shape without changing any
  // result bit: key = canonicalized logical plan of the corpus PLUS
  // the relation's physical identity — file-scan root paths and a
  // (path, length, mtime) digest of the listing, or the row data for
  // in-memory relations (see [[planKey]]; the plan string alone has no
  // data location, so same-schema different corpora would collide) —
  // plus its current row count and every training parameter. Values
  // are defensively deep-cloned on return so no caller can contaminate
  // the cache.
  private val trainMemo =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** Drop every memoized training artifact (for tests that rewrite a
    * corpus in place at unchanged cardinality faster than filesystem
    * mtime granularity can key it).
    */
  def clearTrainingMemo(): Unit = { trainMemo.clear(); memoHits.set(0) }

  private val memoHits = new java.util.concurrent.atomic.AtomicLong(0)

  /** Observability for specs and the bench record: distinct artifacts
    * cached / lookups answered from the in-memory cache since the last
    * clear.
    */
  def trainingMemoStats: (Int, Long) = (trainMemo.size, memoHits.get)

  /** Bound on distinct cached artifacts (ADVICE r12: the map never
    * evicted). Crossing the cap clears the whole memo — deterministic,
    * trivially correct (values are pure functions of their keys; a
    * re-miss retrains the identical artifact), and far above any real
    * inventory's distinct (corpus, params) count.
    */
  private val MemoCap = 256

  /** get/putIfAbsent (NOT computeIfAbsent: the loader runs Spark jobs
    * and CHM forbids re-entrant updates). A lost race recomputes the
    * same deterministic value — wasted work, never a wrong answer.
    */
  private def memoized[T <: AnyRef](key: String)(f: => T): T = {
    val hit = trainMemo.get(key)
    if (hit != null) { memoHits.incrementAndGet(); hit.asInstanceOf[T] }
    else {
      val v = f
      if (trainMemo.size >= MemoCap) trainMemo.clear()
      val prev = trainMemo.putIfAbsent(key, v)
      (if (prev != null) prev else v).asInstanceOf[T]
    }
  }

  /** Cache key identifying a training corpus. The canonicalized plan
    * alone is NOT sufficient identity: a `HadoopFsRelation`'s plan
    * string prints only the format short name + output schema (no data
    * location), so two different parquet corpora with the same schema
    * would collide (ADVICE r12, high). We therefore fold in, per file
    * relation in the plan: every root path, plus a digest of the file
    * listing (path, length, modification time) — so a different
    * directory, OR the same directory rewritten in place, keys
    * differently. In-memory `LocalRelation`s digest their row data
    * (driver-resident by construction, so cheap).
    */
  /** Listing digest per LIVE FileIndex instance (VERDICT r13 item 5):
    * the (path, len, mtime) walk below reads the FileIndex's own
    * in-memory listing (the one planning already paid for — no second
    * filesystem walk), but sorting + hashing 10⁶ entries per training
    * entry call is still O(#files) CPU each time. A FileIndex instance
    * is immutable once built (a rewrite re-read yields a NEW
    * instance), so its digest is computed once and reused for every
    * later training call over the same relation. Keyed by IDENTITY,
    * not equals — `InMemoryFileIndex.equals` compares root paths only,
    * so an equals-keyed map would serve a STALE digest to a fresh
    * index over a rewritten-in-place path (exactly the corner IvfSpec
    * pins). Weak referents: the memo never pins a relation alive; a
    * bounded LRU keeps the map itself a few KB.
    */
  private final class IdKey(o: AnyRef)
      extends java.lang.ref.WeakReference[AnyRef](o) {
    private val h = System.identityHashCode(o)
    override def hashCode: Int = h
    override def equals(that: Any): Boolean = that match {
      case k: IdKey =>
        (k eq this) || { val a = get; a != null && (a eq k.get) }
      case _ => false
    }
  }
  private val listingDigestMemo =
    new java.util.LinkedHashMap[IdKey, String](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[IdKey, String]): Boolean = size > 64
    }
  private def listingDigestCached(location: AnyRef)
                                 (compute: => String): String = {
    val k = new IdKey(location)
    listingDigestMemo.synchronized {
      val hit = listingDigestMemo.get(k)
      if (hit != null) return hit
    }
    val v = compute // outside the lock: walks the cached listing
    listingDigestMemo.synchronized {
      // opportunistic purge of entries whose referent was collected
      val it = listingDigestMemo.keySet().iterator()
      while (it.hasNext) if (it.next().get == null) it.remove()
      listingDigestMemo.put(k, v): Unit
    }
    v
  }

  private def planKey(corpus: DataFrame): String = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val plan = corpus.queryExecution.analyzed
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(plan.canonicalized.toString.getBytes("UTF-8"))
    val bb = java.nio.ByteBuffer.allocate(8)
    def putLong(l: Long): Unit = { bb.putLong(0, l); md.update(bb.array()) }
    plan.foreach {
      case lr: LogicalRelation =>
        lr.relation match {
          case fs: HadoopFsRelation =>
            fs.location.rootPaths.foreach(p =>
              md.update(p.toString.getBytes("UTF-8")))
            // one listing RPC equivalent, already cached by the
            // FileIndex from planning — no extra filesystem
            // round-trip. Sorted by path before digesting: listing
            // order is not a stable contract.
            val listingDigest = listingDigestCached(fs.location) {
                val lmd = java.security.MessageDigest.getInstance("MD5")
                val lbb = java.nio.ByteBuffer.allocate(8)
                def lput(l: Long): Unit = {
                  lbb.putLong(0, l); lmd.update(lbb.array())
                }
                fs.location.listFiles(Nil, Nil)
                  .flatMap(_.files.map(f =>
                    (f.getPath.toString, f.getLen, f.getModificationTime)))
                  .sortBy(_._1)
                  .foreach { case (p, len, mtime) =>
                    lmd.update(p.getBytes("UTF-8"))
                    lput(len); lput(mtime)
                  }
                java.util.Base64.getEncoder.encodeToString(lmd.digest())
              }
            md.update(listingDigest.getBytes("UTF-8"))
          case other =>
            md.update(other.toString.getBytes("UTF-8"))
        }
      case lc: LocalRelation =>
        lc.data.foreach(r => md.update(r.toString.getBytes("UTF-8")))
      case dsv2: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        // v2 file tables are off by default for parquet, but one
        // useV1SourceList config flip away: a table's name() carries
        // its path list, closing the same same-schema collision for
        // the v2 route (no listing digest here — a v2 rewrite-in-place
        // at an unchanged path falls back to the row-count freshness
        // probe in the caller's key).
        md.update(dsv2.table.name().getBytes("UTF-8"))
      case _ => ()
    }
    java.util.Base64.getEncoder.encodeToString(md.digest())
  }

  /** Content digest of a centroid table (for memo keys where the
    * centroids arrive as a value, not derived from the keyed corpus).
    */
  private def centsDigest(cents: Array[(Int, Array[Double])]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val bb = java.nio.ByteBuffer.allocate(8)
    def putLong(l: Long): Unit = { bb.putLong(0, l); md.update(bb.array()) }
    cents.foreach { case (i, v) =>
      putLong(i.toLong)
      v.foreach(d => putLong(java.lang.Double.doubleToLongBits(d)))
    }
    java.util.Base64.getEncoder.encodeToString(md.digest())
  }

  /** Fused single-pass cosine (native codegen). */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.Native.cosine(a, b)

  /** Exact top-k neighbors for each query vector.
    *
    * `queries` must be small (it is broadcast against the corpus); the
    * corpus side streams through one stage. Ranking ties broken by id so
    * output is total-ordered.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    // norms are hoisted to one computation per vector (not per pair):
    // the pair loop then does a single fused dot per comparison.
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("q_vec"), norm(col(vecCol)).as("q_norm")))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("c_vec"),
      norm(col(vecCol)).as("c_norm"))
    val scored = q.join(c, col("query_id") =!= col("cand_id"))
      .withColumn("cos",
        dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")))
      // rank on a rounded score (+id tiebreak) so equal-to-6-decimals
      // scores order identically in any engine computing the same values
      .withColumn("cos_r", round(col("cos"), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_r").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"),
        round(col("cos"), 4).as("cosine"))
  }

  /** Deterministic pseudo-random hyperplane component (table t, plane p,
    * dim j) in [-1, 1), derived from md5("t:p:j") with PORTABLE
    * arithmetic any engine replays exactly: value = first 8 hex digits
    * of the digest as an unsigned integer; component =
    * ((value mod 200000) - 100000) / 100000. Every executor computes
    * identical planes with no driver-side randomness to ship, and an
    * external oracle reconstructs them from md5 alone (the conversion
    * that made the LSH ANN query hash-verifiable).
    */
  private[sim] def planeComponent(t: Int, p: Int, j: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$t:$p:$j".getBytes("UTF-8"))
    // first 8 hex chars == first 4 digest bytes, big-endian unsigned
    val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    ((v % 200000L) - 100000L) / 100000.0
  }

  /** Bucket id for one LSH table: `numPlanes` sign bits of plane dots.
    * Planes are `typedlit` constant arrays — a single Literal, not a
    * per-row CreateArray — so the only per-row work is the fold itself.
    */
  private def bucketFor(vec: Column, table: Int, numPlanes: Int,
                        dim: Int): Column = {
    val bits = (0 until numPlanes).map { p =>
      val plane = typedlit((0 until dim).map(j =>
        planeComponent(table, p, j)))
      when(dot(vec, plane) >= 0, shiftleft(lit(1L), p)).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** ANN top-k: candidates = corpus vectors sharing an LSH bucket with
    * the query in any of `tables` tables; exact cosine on candidates
    * only. Recall tunes with (tables × planes); compared pairs stay
    * proportional to bucket collisions.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              tables: Int = 8, planes: Int = 6, dim: Int = 64,
              idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    def withBuckets(df: DataFrame, id: String, vec: String,
                    nrm: String): DataFrame =
      df.select(col(idCol).as(id), col(vecCol).as(vec),
          norm(col(vecCol)).as(nrm),
          posexplode(array((0 until tables).map(t =>
            bucketFor(col(vecCol), t, planes, dim)): _*)))
        .select(col(id), col(vec), col(nrm), col("pos").as("table"),
          col("col").as("bucket"))
    val qb = broadcast(withBuckets(queries, "query_id", "q_vec", "q_norm"))
    val cb = withBuckets(corpus, "cand_id", "c_vec", "c_norm")
    val cands = qb.join(cb,
        qb("table") === cb("table") && qb("bucket") === cb("bucket") &&
        col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("q_vec"), col("q_norm"),
        col("cand_id"), col("c_vec"), col("c_norm"))
      .distinct()
    val scored = cands
      .withColumn("cos",
        dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")))
      .withColumn("cos_r", round(col("cos"), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_r").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"),
        round(col("cos"), 4).as("cosine"))
  }

  /** IVF (inverted-file) ANN — the other classic scale path: a coarse
    * quantizer of `nlist` deterministic seed centroids partitions the
    * corpus into cells; a query scans only its `nprobe` nearest cells.
    * Compared pairs ≈ |corpus|·nprobe/nlist. Seeds are corpus vectors
    * picked by id-stride (k-means iterations would refine them; the
    * partition-probe-rank shape is identical and stays deterministic).
    */
  /** Nearest-cell structs (sorted best-first) for a vector against a
    * LITERAL centroid table — a pure per-row expression, zero shuffle.
    * struct(-sim, centroid_id) under ascending sort ranks sim DESC with
    * id-ASC tie-break.
    */
  /** The `np` nearest centroids of a row vector, ascending
    * (−cosine, cid) — runs as the native
    * [[org.apache.spark.sql.graft.NearestCells]] kernel (centroids as
    * a plan-bound object, np-bounded insertion instead of sorting an
    * nlist struct array per row), bit-identical to the sort_array
    * formulation it replaced: same fused-cosine values, same NaN-last
    * ordering, same lower-cid tie-break.
    */
  private def nearestCellStructs(vec: Column,
                                 cents: Array[(Int, Array[Double])],
                                 np: Int): Column =
    org.apache.spark.sql.graft.Native.nearestCells(vec, cents, np)

  /** Lloyd refinement of a centroid table: assign every corpus vector to
    * its nearest centroid (per-row argmax over literals, zero shuffle),
    * then recompute each cell's mean with the O(dim)-state
    * `graft_vecsum` aggregate — ONE nlist-key shuffle per iteration,
    * never a (row × dim) explode. Cells that go empty keep their seed.
    * Refined means are deterministic only up to double reassociation, so
    * refinement is opt-in where bit-stable output matters.
    */
  def refineCentroids(corpus: DataFrame,
                      seeds: Array[(Int, Array[Double])],
                      iters: Int,
                      vecCol: String = "embedding")
      : Array[(Int, Array[Double])] = {
    var cur = seeds
    (0 until iters).foreach { _ =>
      val assigned = corpus.select(
        element_at(nearestCellStructs(col(vecCol), cur, 1), 1)
          .getField("centroid_id").as("centroid_id"),
        col(vecCol).as("v"))
      val agg = assigned.groupBy("centroid_id")
        .agg(org.apache.spark.sql.graft.Native.vecsum(col("v")).as("s"),
          count(lit(1)).as("n"))
        .collect()
        .map { r =>
          val sum = r.getSeq[Double](1).toArray
          val n = r.getLong(2).toDouble
          (r.getInt(0), sum.map(_ / n))
        }.toMap
      cur = cur.map { case (cid, seed) => (cid, agg.getOrElse(cid, seed)) }
    }
    cur
  }

  /** Deterministic bounded training sample, sorted by id: hash-select
    * ≈`sampleN` rows (`xxhash64(id) mod 10⁶ < p·10⁶`) and collect their
    * vectors — no RNG to coordinate, no global sort; one pushed-down
    * scan collects sampleN × dim doubles to the driver, a size
    * independent of corpus scale. Shared by the IVF coarse quantizer
    * ([[trainCentroids]]) and the PQ sub-codebooks ([[trainPqBooks]]).
    */
  private def hashSample(corpus: DataFrame, sampleN: Int, n: Long,
                         idCol: String, vecCol: String,
                         heldOut: Boolean = false)
      : Array[Array[Double]] = {
    val num = math.min(1000000L, math.max(1L, sampleN * 1000000L / n))
    // heldOut selects the ADJACENT hash band [num, 2·num) instead of
    // the training band [0, num): rows the quantizer never fit, so a
    // recall measured on them is out-of-sample (the r11 tuner bias was
    // exactly the in-sample fit: centroids place themselves to serve
    // the training rows, flattering a frontier measured on those same
    // rows). When the two equal-width bands can't both fit in [0, 10⁶)
    // (sampling fraction > ½), the held-out band shrinks to the
    // remainder [num, 10⁶) — DISJOINT from training, just narrower
    // (ADVICE r12: the old clamp lo = min(num, 10⁶ − num) overlapped
    // the training band by 2·num − 10⁶ rows, partially reinstating the
    // in-sample bias). At num = 10⁶ the remainder is empty, so the
    // "sample" is the whole corpus and the measurement is exact rather
    // than biased — the one case where overlap is benign by
    // construction.
    val (lo, hi) =
      if (!heldOut) (0L, num)
      else if (num >= 1000000L) (0L, 1000000L)
      else (num, math.min(2L * num, 1000000L))
    val band = pmod(xxhash64(col(idCol)), lit(1000000L))
    corpus
      .filter(band >= lo && band < hi)
      .select(col(idCol), col(vecCol))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Any](1).map {
        case f: Float => f.toDouble
        case d: Double => d
      }.toArray))
      .sortBy(_._1)
      .map(_._2)
  }

  /** Train IVF centroids on a BOUNDED deterministic sample — the way a
    * real vector store builds its coarse quantizer at 100 TB: you never
    * run k-means over the full corpus, you train on ~10⁴–10⁶ sampled
    * vectors and broadcast the result.
    *
    *  - Sample: hash-select ≈`sampleN` rows (`xxhash64(id) mod 10⁶ <
    *    p·10⁶`) — deterministic, no RNG to coordinate, no global sort;
    *    the filter scans once and collects sampleN × dim doubles to the
    *    driver, a size independent of corpus scale.
    *  - Seeding: Gonzalez farthest-point (maxmin) — the deterministic
    *    k-means++ variant: start from the sampled vector with the
    *    smallest id, repeatedly add the sample point with the lowest
    *    best-cosine to the chosen set.
    *  - Refinement: Lloyd iterations ON THE SAMPLE, driver-side (the
    *    sample is thousands of points — sub-millisecond per iteration;
    *    contrast [[refineCentroids]], which runs Lloyd distributed over
    *    the FULL corpus when maximum quality is worth one nlist-key
    *    shuffle per iteration).
    */
  def trainCentroids(corpus: DataFrame, nlist: Int = 0, sampleN: Int = 0,
                     iters: Int = 4,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding")
      : Array[(Int, Array[Double])] = {
    val n = math.max(1L, corpus.count())
    // nlist/sampleN ≤ 0 → scale with the corpus (the default path;
    // explicit values remain for tests and fixed-geometry callers)
    val kWant = if (nlist > 0) nlist else deriveNlist(n)
    val sN = if (sampleN > 0) sampleN else deriveSampleN(kWant)
    memoized(s"cents|$n|$kWant|$sN|$iters|$idCol|$vecCol|" +
      planKey(corpus)) {
      trainCentroidsNow(corpus, n, kWant, sN, iters, idCol, vecCol)
    }.map { case (i, v) => (i, v.clone()) }
  }

  /** The uncached sample-train pass behind [[trainCentroids]]. */
  private def trainCentroidsNow(corpus: DataFrame, n: Long, kWant: Int,
                                sN: Int, iters: Int,
                                idCol: String, vecCol: String)
      : Array[(Int, Array[Double])] = {
    val pts = hashSample(corpus, sN, n, idCol, vecCol)
    require(pts.nonEmpty, "centroid training sample is empty")
    kmeansCosine(pts, math.min(kWant, pts.length), iters)
      .zipWithIndex.map { case (v, i) => (i, v) }
  }

  /** The deterministic cosine k-means core every training path shares:
    * Gonzalez maxmin seeding + fixed-iteration Lloyd over an in-memory
    * point set, id-order tie-breaks throughout. Pure function — safe
    * to run driver-side (the classic bounded-sample path) or inside an
    * executor task (the sharded beyond-cap path,
    * [[trainCentroidsSharded]]).
    */
  private[sim] def kmeansCosine(pts: Array[Array[Double]], kIn: Int,
                                iters: Int): Array[Array[Double]] = {
    require(pts.nonEmpty, "k-means over an empty point set")
    val k = math.min(kIn, pts.length)

    // cosine with a defined value (0) for zero-norm vectors: a NaN here
    // would poison every maxmin comparison below (NaN < x is always
    // false), leaving the argmin unset — an all-zero sampled vector is
    // legal input and must not crash training
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var xy = 0.0; var xx = 0.0; var yy = 0.0; var i = 0
      while (i < a.length) {
        xy += a(i) * b(i); xx += a(i) * a(i); yy += b(i) * b(i); i += 1
      }
      if (xx == 0.0 || yy == 0.0) 0.0
      else xy / (math.sqrt(xx) * math.sqrt(yy))
    }

    // Gonzalez maxmin seeding: bestSim(i) = max cosine to any chosen
    // seed; next seed = argmin bestSim (ties → lower sample index).
    // Zero-norm vectors are degenerate for cosine geometry (similarity
    // 0 to EVERYTHING — as a starting seed they tie every candidate and
    // index order would pick all the zeros first): they are ineligible
    // as seeds unless the whole sample is zero, and each pick is marked
    // ineligible explicitly (a zero seed's cos(self) is 0, not 1).
    val norm2 = pts.map { p =>
      var s = 0.0; var j = 0
      while (j < p.length) { s += p(j) * p(j); j += 1 }
      s
    }
    val first = { val i = norm2.indexWhere(_ > 0.0); if (i < 0) 0 else i }
    val chosen = new Array[Int](k)
    chosen(0) = first
    val bestSim = pts.map(p => cos(p, pts(first)))
    bestSim(first) = Double.MaxValue
    var c = 1
    while (c < k) {
      var arg = -1; var best = Double.MaxValue
      var i = 0
      while (i < pts.length) {
        if (norm2(i) > 0.0 && bestSim(i) < best) {
          best = bestSim(i); arg = i
        }
        i += 1
      }
      if (arg < 0) { // only zero vectors (or already-chosen) remain
        i = 0
        while (i < pts.length && arg < 0) {
          if (bestSim(i) < Double.MaxValue) arg = i
          i += 1
        }
        if (arg < 0) arg = first
      }
      chosen(c) = arg
      i = 0
      while (i < pts.length) {
        val s = cos(pts(i), pts(arg))
        if (s > bestSim(i)) bestSim(i) = s
        i += 1
      }
      bestSim(arg) = Double.MaxValue
      c += 1
    }
    var cents: Array[Array[Double]] = chosen.map(pts(_).clone())

    // Lloyd on the sample: assign by max cosine (ties → lower cell id,
    // matching nearestCellStructs' tie-break), mean-update, empty cell
    // keeps its previous centroid.
    (0 until iters).foreach { _ =>
      val sums = Array.fill(k)(new Array[Double](pts.head.length))
      val counts = new Array[Long](k)
      pts.foreach { p =>
        var arg = 0; var best = Double.MinValue; var j = 0
        while (j < k) {
          val s = cos(p, cents(j))
          if (s > best) { best = s; arg = j }
          j += 1
        }
        counts(arg) += 1
        var d = 0
        while (d < p.length) { sums(arg)(d) += p(d); d += 1 }
      }
      cents = cents.zipWithIndex.map { case (old, j) =>
        if (counts(j) == 0) old
        else sums(j).map(_ / counts(j))
      }
    }
    cents
  }

  /** Beyond-cap training (VERDICT r11 item 4): TWO-LEVEL SHARDED
    * k-means — the path a ≥10⁸-vector deployment takes once the
    * derived nlist passes [[MaxDerivedNlist]] and a single driver
    * can't Lloyd the whole codebook.
    *
    *  1. SHARD: the (larger) training sample is hash-split into
    *     `shards` disjoint id-bands; each shard trains k/`shards`
    *     sub-centroids with the SAME deterministic core
    *     ([[kmeansCosine]]) — but inside an executor task via
    *     `mapGroups`, so codebook training parallelizes across the
    *     cluster instead of serializing on the driver.
    *  2. MERGE: the union of sub-codebooks (k × dim doubles — bytes,
    *     not data) is collected and renumbered in (shard, local-id)
    *     order — deterministic because each shard's input is sorted
    *     by id and the core is a pure function.
    *  3. REFINE: one (or a few) distributed Lloyd passes over the
    *     FULL corpus ([[refineCentroids]] — one nlist-key shuffle per
    *     iteration) heal shard-boundary artifacts: two shards that
    *     each placed a centroid on the same true cluster get pulled
    *     apart by the global assignment.
    *
    * Scale shape: per-shard sample and k are bounded (driver never
    * holds more than the merged k × dim codebook), refinement cost is
    * the same one-shuffle-per-iter as any full-corpus aggregation.
    * Refined means reassociate doubles, so (like [[refineCentroids]])
    * the result is deterministic per plan but not bit-pinnable across
    * partitionings — callers that need bit-stable output at ≤cap
    * scale keep [[trainCentroids]].
    */
  def trainCentroidsSharded(corpus: DataFrame, nlist: Int = 0,
                            shards: Int = 16, sampleN: Int = 0,
                            itersLocal: Int = 4, refineIters: Int = 1,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding")
      : Array[(Int, Array[Double])] = {
    require(shards >= 1, "shards must be >= 1")
    val n = math.max(1L, corpus.count())
    val kWant = if (nlist > 0) nlist
      else math.max(16L, (n + TargetCellSize - 1) / TargetCellSize).toInt
    // the shard count FLOORS at ceil(k / MaxDerivedNlist): per-shard k
    // (and with it the per-shard sample, 32 points per centroid) must
    // stay at most the driver-trainable unit, or a 10⁹-vector corpus
    // with the default shards would pull a multi-GB sample into one
    // executor task. With the floor, per-shard state is bounded by
    // the SAME constant at any corpus size — more data ⇒ more shards,
    // never bigger ones.
    val nShards = math.max(shards,
      ((kWant + MaxDerivedNlist - 1) / MaxDerivedNlist))
    // per-shard k, remainder spread over the first shards
    val kBase = kWant / nShards
    val kRem = kWant % nShards
    // sample big enough for ≥32 points per centroid ACROSS shards;
    // unlike the capped path this scales with kWant (the whole point
    // is that no single JVM ever k-means the full sample)
    val sN = if (sampleN > 0) sampleN else math.max(2000, 32 * kWant)
    val num = math.min(1000000L, math.max(1L, sN * 1000000L / n))
    val spark = corpus.sparkSession
    import spark.implicits._
    // the MERGE codebook (pre-refine) is a pure deterministic function
    // of (corpus, params) — per-shard points sort by id, shard routing
    // is a hash, the merge sorts by shard — so it memoizes like the
    // driver-trained paths. The refine pass is deliberately OUTSIDE
    // the memo: refined means are reduction-order (partitioning-)
    // dependent, so a cached copy could disagree bitwise with a fresh
    // train under a different parallelism.
    val seeds = memoized(
      s"shardcents|$n|$kWant|$nShards|$sN|$itersLocal|$idCol|$vecCol|" +
        planKey(corpus)) {
      val sub = corpus
        .filter(pmod(xxhash64(col(idCol)), lit(1000000L)) < num)
        .select(pmod(xxhash64(col(idCol)), lit(nShards.toLong))
          .cast("int").as("shard"), col(idCol).cast("long").as("id"),
          transform(col(vecCol), x => x.cast("double")).as("v"))
        .as[(Int, Long, Array[Double])]
        .groupByKey(_._1)
        .mapGroups { (shard, it) =>
          val pts = it.toArray.sortBy(_._2).map(_._3)
          val kLocal = math.min(pts.length,
            kBase + (if (shard < kRem) 1 else 0))
          (shard, if (kLocal == 0) Array.empty[Array[Double]]
                  else kmeansCosine(pts, kLocal, itersLocal))
        }
        .collect()
        .sortBy(_._1)
      val merged = sub.iterator.flatMap(_._2).zipWithIndex
        .map { case (v, i) => (i, v) }.toArray
      require(merged.nonEmpty, "sharded training produced no centroids")
      merged
    }.map { case (i, v) => (i, v.clone()) }
    if (refineIters > 0) refineCentroids(corpus, seeds, refineIters,
      vecCol)
    else seeds
  }

  /** AUTO-TUNED nprobe (r9 verdict item 8): the recall@k → nprobe
    * frontier, measured ON THE BOUNDED TRAINING SAMPLE, as a
    * deterministic pure function of the corpus — the policy that makes
    * the IVF families self-configuring instead of shipping a magic
    * nprobe.
    *
    * The observation that makes this exact and cheap: within probed
    * cells the engine scores candidates EXACTLY, so a true top-k
    * neighbor is retrieved iff its cell is among the query's nprobe
    * highest-cosine centroids. The nprobe a (query, true-neighbor)
    * pair NEEDS is therefore the RANK of the neighbor's cell in the
    * query's centroid ranking — and recall(nprobe) is just the CDF of
    * that rank distribution. One pass computes the whole frontier:
    * sample recall at EVERY nprobe simultaneously, no per-setting
    * re-probe.
    *
    * Sample, not corpus: the same `hashSample` selection the centroids
    * trained on (driver cost ∝ sampleN·(nlist + nQueries)·dim,
    * independent of corpus scale), queries = the nQueries lowest-id
    * sample points — deterministic end to end, so the picked nprobe is
    * reproducible anywhere and can be pinned in a spec. The sample
    * CDF estimates the corpus CDF; BASELINE.md round-10 records the
    * sample-predicted vs corpus-measured recall at the picked setting.
    */
  def nprobeRecallFrontier(pts: Array[Array[Double]],
                           cents: Array[Array[Double]],
                           k: Int = 5, nQueries: Int = 32)
      : Array[(Int, Double)] = {
    require(pts.nonEmpty && cents.nonEmpty, "empty sample or centroids")
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var xy = 0.0; var xx = 0.0; var yy = 0.0; var i = 0
      while (i < a.length) {
        xy += a(i) * b(i); xx += a(i) * a(i); yy += b(i) * b(i); i += 1
      }
      if (xx == 0.0 || yy == 0.0) 0.0
      else xy / (math.sqrt(xx) * math.sqrt(yy))
    }
    val nlist = cents.length
    // cell of every sample point: argmax cosine, ties → lower cell id
    // (nearestCellStructs' tie-break — the engine's assignment)
    val cellOf = pts.map { p =>
      var arg = 0; var best = Double.MinValue; var j = 0
      while (j < nlist) {
        val s = cos(p, cents(j))
        if (s > best) { best = s; arg = j }
        j += 1
      }
      arg
    }
    val nq = math.min(nQueries, pts.length)
    // rank needed per (query, true-neighbor): neighbor cell's position
    // in the query's centroid ranking (desc cosine, ties → lower id)
    val neededRanks = (0 until nq).flatMap { qi =>
      val q = pts(qi)
      // exact top-k among the sample (self excluded, ties → lower idx
      // — the same rounded-cosine discipline as the engine would add
      // nothing here: both sides of the comparison are THIS function)
      val scored = pts.indices.filter(_ != qi)
        .map(i => (cos(q, pts(i)), i))
        .sortBy { case (s, i) => (-s, i) }
        .take(k)
      val centRank: Map[Int, Int] = cents.indices
        .map(j => (cos(q, cents(j)), j))
        .sortBy { case (s, j) => (-s, j) }
        .zipWithIndex
        .map { case ((_, j), r) => j -> (r + 1) }
        .toMap
      scored.map { case (_, i) => centRank(cellOf(i)) }
    }
    (1 to nlist).map { np =>
      np -> neededRanks.count(_ <= np).toDouble / neededRanks.length
    }.toArray
  }

  /** One-sided finite-sample margin the tuner adds to its target: the
    * normal-approximation standard error of a recall estimate at
    * `target` over `m` (query, true-neighbor) rank observations. Pure
    * arithmetic, deterministic, spec-pinnable.
    */
  def tuneMargin(target: Double, m: Int): Double =
    if (m <= 0) 0.0
    else math.sqrt(target * (1.0 - target) / m)

  /** The smallest nprobe whose HELD-OUT sample recall@k clears
    * `recallTarget` plus a one-sided finite-sample margin (nlist if
    * even probing everything falls short). See
    * [[nprobeRecallFrontier]].
    *
    * Bias correction (r11 verdict item 6): the r9–r11 tuner measured
    * its frontier on the SAME hash band the centroids trained on, and
    * the in-sample fit (centroids place themselves to serve exactly
    * those rows) made the sample CDF one-sidedly optimistic — tuned
    * recall landed 0.90–0.925 against a 0.95 target at sf1/sf10, with
    * the repo shipping "ask for r+0.05" as guidance. The correction
    * lives INSIDE the tuner now: (a) the frontier is measured on the
    * ADJACENT held-out hash band ([[hashSample]] `heldOut`), rows the
    * quantizer never fit; (b) the pick must clear the target by the
    * estimate's own standard error ([[tuneMargin]] over the m rank
    * observations the frontier actually used), absorbing the residual
    * sampling noise of a ~160-observation CDF. Both corrections are
    * deterministic pure functions of the corpus, so the pick stays
    * reproducible and spec-pinnable.
    */
  def tuneNprobe(corpus: DataFrame, cents: Array[(Int, Array[Double])],
                 recallTarget: Double, k: Int = 5, nQueries: Int = 32,
                 idCol: String = "vec_id", vecCol: String = "embedding")
      : Int = {
    val n = math.max(1L, corpus.count())
    // the frontier is target-independent — memoize it once per
    // (corpus, centroids, k, nQueries) so multi-target callers (and
    // the bench extras) pay the sample scan + rank pass once
    val (frontier, m) = memoized(
      s"front|$n|$k|$nQueries|$idCol|$vecCol|" +
        centsDigest(cents) + "|" + planKey(corpus)) {
      val pts = hashSample(corpus, deriveSampleN(cents.length), n,
        idCol, vecCol, heldOut = true)
      val f = nprobeRecallFrontier(pts, cents.map(_._2), k, nQueries)
      // observation count behind the CDF: top-k per query, capped by
      // available candidates (pts minus the query itself)
      val obs = math.min(nQueries, pts.length) *
        math.min(k, math.max(0, pts.length - 1))
      (f, obs)
    }
    val need = math.min(1.0, recallTarget + tuneMargin(recallTarget, m))
    frontier.collectFirst { case (np, r) if r >= need => np }
      .getOrElse(cents.length)
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nlist: Int = 0, nprobe: Int = 0,
              refineIters: Int = 0,
              centroids: Option[Array[(Int, Array[Double])]] = None,
              idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = centroids match {
    case Some(cs) => ivfTopKWith(corpus, queries, k, cs,
      if (nprobe > 0) nprobe else deriveNprobe(cs.length), idCol, vecCol)
    case None => {
    // deterministic coarse quantizer: id-strided seed vectors — no
    // global sort/window (which wouldn't scale); one count() for the
    // stride, then a pushed-down filter picks the seeds. The nlist seed
    // vectors are COLLECTED to the driver (nlist × dim floats — bytes,
    // not data, at any corpus scale) and baked into the plan as
    // literals, so cell assignment is a pure per-row expression: no
    // crossJoin, no window, zero shuffle of the corpus.
    val n = corpus.count()
    val nl = if (nlist > 0) nlist else deriveNlist(n)
    val stride = math.max(1L, n / nl)
    // element type widened to double literals: float→double is exact, and
    // the cosine kernel upcasts its inputs to double regardless.
    val seeds: Array[(Int, Array[Double])] = corpus
      .filter(col(idCol) % stride === 0 && col(idCol) < stride * nl)
      .select(expr(s"cast($idCol div $stride as int)"), col(vecCol))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Any](1).map {
        case f: Float => f.toDouble
        case d: Double => d
      }.toArray))
      .sortBy(_._1)
    val cents =
      if (refineIters > 0) refineCentroids(corpus, seeds, refineIters, vecCol)
      else seeds
    ivfTopKWith(corpus, queries, k, cents,
      if (nprobe > 0) nprobe else deriveNprobe(cents.length), idCol, vecCol)
  }
  }

  /** nprobe nearest cells per row (sort_array + slice — whole-stage
    * codegen; ordering: sim desc, centroid_id asc).
    */
  private def assignCells(df: DataFrame,
                          cents: Array[(Int, Array[Double])],
                          id: String, vec: String, probes: Int,
                          idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as(id), col(vecCol).as(vec),
        explode(nearestCellStructs(col(vecCol), cents, probes))
          .as("__cell"))
      .select(col(id), col(vec),
        col("__cell.centroid_id").as("centroid_id"))

  /** Probe-join-rank over cell-assigned corpus rows
    * (`cand_id, c_vec2, centroid_id`) and the queries' probed cells
    * (`query_id, q_vec, centroid_id`, [[assignCells]]). Corpus cell
    * assignment is unique and each query probes nprobe DISTINCT cells,
    * so a (query, cand) pair joins at most once — no dedup pass needed
    * before ranking.
    */
  private def rankProbed(cells: DataFrame, probed: DataFrame, k: Int)
      : DataFrame =
    rankTopK(broadcast(probed).join(cells, Seq("centroid_id"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        cosine(col("q_vec"), col("c_vec2")).as("cos")), k)

  /** Per-query top-k of scored pairs (`query_id, cand_id, cos`),
    * ranked on the score rounded to 6 decimals (+ cand_id tiebreak) so
    * equal-to-6-decimals scores order identically in any engine
    * computing the same values; the score is reported rounded to 4
    * decimals as `name`.
    */
  private def rankTopK(scored: DataFrame, k: Int, name: String = "cosine")
      : DataFrame = {
    val wr = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_r").desc, col("cand_id"))
    scored.withColumn("cos_r", round(col("cos"), 6))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"),
        round(col("cos"), 4).as(name))
  }

  /** Blocked k-NN self-join with IVF-cell block refinement: every
    * vector's top-k cosine neighbors among vectors sharing BOTH its
    * blocking column and its nearest-centroid cell. This is the
    * scale-honest form of the value-blocked exact kNN join: a
    * fixed-cardinality blocking key (e.g. `label`) makes pair count
    * Σ|block|² grow QUADRATICALLY with the corpus (measured 19.8× time
    * at 10× data, BASELINE.md sf1 table), while cell refinement divides
    * every block by nlist — and nlist is the knob that scales WITH the
    * corpus (nlist ∝ n/target keeps block size, and so per-row work,
    * constant). Same recall trade as any IVF structure: neighbors in a
    * different cell are unseen; raising nprobe on the query side (cf.
    * [[ivfTopK]]) buys recall back.
    *
    * The assignment is the zero-shuffle per-row argmax over literal
    * centroids; the only shuffle is the (block, cell) hash join, and the
    * per-vector top-k is a WindowGroupLimit below it — identical plan
    * family to the unrefined join, just with bounded blocks.
    */
  def knnJoinCells(base: DataFrame, k: Int,
                   cents: Array[(Int, Array[Double])],
                   blockCol: String = "label",
                   idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    val assigned = base.select(col(idCol), col(vecCol), col(blockCol),
      element_at(nearestCellStructs(col(vecCol), cents, 1), 1)
        .getField("centroid_id").as("cell"))
    val a = assigned.select(col(idCol).as("a_id"),
      col(vecCol).as("a_vec"), col(blockCol), col("cell"))
    val b = assigned.select(col(idCol).as("b_id"),
      col(vecCol).as("b_vec"), col(blockCol), col("cell"))
    val w = Window.partitionBy(col("a_id"))
      .orderBy(col("cos").desc, col("b_id"))
    a.join(b, Seq(blockCol, "cell"))
      .filter(col("a_id") =!= col("b_id"))
      .withColumn("cos", round(cosine(col("a_vec"), col("b_vec")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("a_id").as("vec_id"), col("b_id").as("neighbor_id"),
        col("rank"), col("cos").as("cosine"))
  }

  /** IVF probe-and-rank over an explicit centroid table (from the
    * strided seeds, [[refineCentroids]], or [[trainCentroids]]).
    */
  private def ivfTopKWith(corpus: DataFrame, queries: DataFrame, k: Int,
                          cents: Array[(Int, Array[Double])], nprobe: Int,
                          idCol: String, vecCol: String): DataFrame = {
    val cells = assignCells(corpus, cents, "cand_id", "c_vec2",
      probes = 1, idCol, vecCol)
    rankProbed(cells,
      assignCells(queries, cents, "query_id", "q_vec", nprobe, idCol, vecCol),
      k)
  }

  /** Build a PERSISTED IVF index: the corpus written partitioned on
    * disk by nearest-centroid cell (`centroid_id=` hive dirs) plus the
    * trained centroid table. The index is built once; every probe then
    * reads ONLY its probed cells — file I/O ∝ nprobe/nlist of the
    * corpus, the build-once/probe-many shape every production vector
    * store uses (and the property IvfIndexSpec pins via
    * `PartitionFilters` in the scan plan). Precomputed `centroids` let
    * the beyond-cap sharded trainer (or any external codebook) feed the
    * same persisted-index protocol.
    */
  def buildIvfIndex(corpus: DataFrame, dir: String,
                    nlist: Int = 0, sampleN: Int = 0, iters: Int = 4,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    centroids: Option[Array[(Int, Array[Double])]] = None)
      : Unit =
    buildIvf(corpus, dir, "buildIvfIndex")(Trained(centroids.getOrElse(
      trainCentroids(corpus, nlist, sampleN, iters, idCol, vecCol))))(
      rawCells(idCol, vecCol))

  /** The version dir `_CURRENT` points at (the one consistent
    * (centroids, cells) pair). Public so tests and tooling can reason
    * about the commit protocol.
    */
  def indexVersion(spark: SparkSession, dir: String): String =
    SegmentedIndex.currentVersion(spark, dir)

  /** The trained centroid table of one committed index version. */
  def readCentroids(spark: SparkSession, dir: String, version: String)
      : Array[(Int, Array[Double])] =
    spark.read.schema(CentroidSchema).parquet(s"$dir/$version/centroids")
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)

  /** The cell SEGMENTS a version's data lives in: the `segments` text
    * manifest when present ([[appendIvfIndex]] versions), else the
    * version itself (a base [[buildIvfIndex]] — backward compatible
    * with pre-append indexes).
    */
  def indexSegments(spark: SparkSession, dir: String, version: String)
      : Seq[String] =
    SegmentedIndex.segments(spark, dir, version)

  // ---- the one IVF segment path ------------------------------------
  // Raw, PQ and SQ8 differ only in their trained state (centroids,
  // plus codebooks for PQ) and their cell encoder (`rawCells`,
  // `pqCells`, `sq8Cells`). Build, append, compaction, describe and the
  // probes' cell read are one body each, on the segmented-index
  // protocol (graft.sources.SegmentedIndex): a version dir holds
  // `centroids/` (and `codebooks/`) plus `cells/centroid_id=<c>/`, and
  // one atomic `_CURRENT` flip commits it, so a probe never pairs new
  // centroids with old cell assignments.

  /** An IVF index's trained state, frozen across appends and
    * compactions: the coarse centroids, and for PQ the codebooks.
    */
  private[sim] final case class Trained(
      cents: Array[(Int, Array[Double])],
      books: Option[Array[Array[Array[Double]]]] = None)

  /** Declared schemas of the trained-state tables: every read passes
    * its schema, so none runs a footer-inference job.
    */
  private val CentroidSchema =
    StructType.fromDDL("centroid_id INT, centroid ARRAY<DOUBLE>")
  private val CodebookSchema =
    StructType.fromDDL("j INT, code INT, codeword ARRAY<DOUBLE>")

  /** The hive partition column of every segment's `cells/`. */
  private val CellColumn = StructField("centroid_id", IntegerType)
  private val CellDir = "centroid_id=(-?\\d+)".r

  /** An append whose cell rows do not cast losslessly to the index's
    * cells schema. It is raised before anything is written, so every
    * segment of a chain holds one schema.
    */
  final class CellSchemaMismatch(msg: String)
      extends IllegalArgumentException(msg)

  /** `df` with its nearest centroid as `centroid_id`: the zero-shuffle
    * per-row argmax over centroid literals.
    */
  private def withCell(df: DataFrame, cents: Array[(Int, Array[Double])],
                       vecCol: String): DataFrame =
    df.withColumn("centroid_id",
      element_at(nearestCellStructs(col(vecCol), cents, 1), 1)
        .getField("centroid_id"))

  /** Raw cells: the vectors themselves. */
  private[sim] def rawCells(idCol: String, vecCol: String)(t: Trained)
      : DataFrame => DataFrame =
    withCell(_, t.cents, vecCol)
      .select(col(idCol), col(vecCol), col("centroid_id"))

  /** The build of every IVF family: train, then write the trained
    * state and the corpus's cells into a fresh version and commit it.
    */
  private[sim] def buildIvf(corpus: DataFrame, dir: String, op: String)(
      train: => Trained)(cells: Trained => DataFrame => DataFrame): Unit =
    SegmentedIndex.asOp(corpus.sparkSession, op) {
      val spark = corpus.sparkSession
      val trained = train
      val version = SegmentedIndex.newVersionName()
      writeTrained(spark, s"$dir/$version", trained)
      writeCells(cells(trained)(corpus), s"$dir/$version/cells")
      SegmentedIndex.commitBuild(spark, dir, version)
    }

  /** The trained-state tables of a fresh version. coalesce(1): they
    * are driver-local (≤ nlist and m·ksub rows) — the upstream is a
    * localSeqToDF, nothing to parallelize.
    */
  private def writeTrained(spark: SparkSession, path: String,
                           t: Trained): Unit = {
    import spark.implicits._
    t.cents.toSeq.map { case (i, v) => (i, v.toSeq) }
      .toDF("centroid_id", "centroid")
      .coalesce(1).write.mode("errorifexists").parquet(s"$path/centroids")
    t.books.foreach(_.zipWithIndex.flatMap { case (book, j) =>
        book.zipWithIndex.map { case (cw, code) => (j, code, cw.toSeq) }
      }.toSeq.toDF("j", "code", "codeword")
      .coalesce(1).write.mode("errorifexists").parquet(s"$path/codebooks"))
  }

  /** The trained state of one committed version. */
  private def readTrained(spark: SparkSession, dir: String,
                          version: String, books: Boolean): Trained =
    Trained(readCentroids(spark, dir, version),
      if (books) Some(readCodebooks(spark, dir, version)) else None)

  /** The one cell write: rows clustered by cell, then hive-partitioned
    * by `centroid_id`, so each cell dir gets one file. partitionBy
    * alone writes up to (input tasks × nlist) files — ~25k at sf10 —
    * and every probe then opens nprobe × tasks files instead of
    * nprobe (r12: the clustered layout measured 2.7× on the probe path
    * at n = 3·10⁵). `repartition(col)` with no count is
    * AQE-coalescible, and a SMALL delta then collapses to ONE task
    * serially creating ~nlist cell dirs (AppendProbe r14: a 2k-row
    * append cost 8 s vs 2.4 s for a 20k-row one at nlist=781); an
    * explicit count is left alone by AQE, and each cell still hashes
    * wholly to one partition.
    */
  private def writeCells(rows: DataFrame, path: String): Unit =
    rows.repartition(rows.sparkSession.sparkContext.defaultParallelism,
        col("centroid_id"))
      .write.mode("errorifexists").partitionBy("centroid_id")
      .parquet(path)

  /** Every cell dir of the segments `segs`, as (cell, path) in chain
    * order and cell order within a segment: one `listStatus` of each
    * segment's `cells/`. A cell no row was assigned to has no dir.
    */
  private def cellDirs(spark: SparkSession, dir: String, segs: Seq[String])
      : Seq[(Int, String)] = {
    val fs = SegmentedIndex.fsFor(spark, dir)
    segs.flatMap { s =>
      val cells = s"$dir/$s/cells"
      val names =
        try fs.listStatus(new Path(cells)).toSeq
          .filter(_.isDirectory).map(_.getPath.getName)
        catch { case _: java.io.FileNotFoundException => Nil }
      names.collect { case CellDir(c) => c.toInt }.sorted
        .map(c => (c, s"$cells/centroid_id=$c"))
    }
  }

  /** The data schema every cell file of a chain holds, read from the
    * footer of the first cell file of `dirs` on the driver: no Spark
    * job. None when no dir holds a file.
    */
  private def cellsSchema(spark: SparkSession, dir: String,
                          dirs: Iterator[(Int, String)]): Option[StructType] = {
    val fs = SegmentedIndex.fsFor(spark, dir)
    dirs.flatMap(d => fs.listStatus(new Path(d._2)).iterator)
      .find(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(st => ChainRelation.footerSchema(spark, st.getPath))
  }

  /** [[cellsSchema]] of a chain a read needs to type. */
  private def chainSchema(spark: SparkSession, dir: String,
                          dirs: Seq[(Int, String)]): StructType =
    cellsSchema(spark, dir, dirs.iterator).getOrElse(
      throw new IllegalStateException(s"IVF index $dir holds no cell file"))

  /** The cells of `dirs` as ONE scan under `schema`, with `centroid_id`
    * as its partition column: one `listStatus` per dir, no job. An
    * empty `dirs` is an empty, correctly typed scan.
    */
  private def scanCells(spark: SparkSession, dirs: Seq[(Int, String)],
                        schema: StructType): DataFrame =
    ChainRelation.read(spark, dirs.map(_._2), schema,
      partition = Some(CellColumn))

  /** The cells a probe reads: those `probed` (query rows assigned to
    * cells) names, across EVERY segment the version's manifest lists,
    * as one scan. Listing is ∝ segments + |probed ∩ nonempty| —
    * reading a segment's whole `cells/` tree would pay partition
    * discovery ∝ nlist, which at a beyond-cap nlist dwarfs the probe
    * itself (r12: ~10 s of listing for a 3-of-4096-cell probe at
    * n = 2²⁰).
    */
  private def probedCells(spark: SparkSession, dir: String, version: String,
                          probed: DataFrame): DataFrame = {
    val wanted = probed.select("centroid_id").distinct()
      .collect().map(_.getInt(0)).toSet
    val all = cellDirs(spark, dir, indexSegments(spark, dir, version))
    scanCells(spark, all.filter(d => wanted(d._1)),
      chainSchema(spark, dir, all))
  }

  /** Copy the parent version's FROZEN trained-state files (centroids;
    * codebooks when the family has them — everything but cells and
    * protocol files) into a fresh version dir at the filesystem level:
    * no Spark job re-writes bytes the parent already holds.
    */
  private def copyTrainedState(spark: SparkSession, dir: String,
                               parent: String, version: String): Unit = {
    val fs = SegmentedIndex.fsFor(spark, dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val protocol = Set("cells", "segments", SegmentedIndex.AppendTag,
      SegmentedIndex.MultiTags, graft.sources.PointerFile.CommittedMarker)
    fs.listStatus(new Path(s"$dir/$parent"))
      .filter(st => !protocol(st.getPath.getName))
      .foreach { st =>
        require(org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
          new Path(s"$dir/$version/${st.getPath.getName}"),
          false, conf), s"copy of ${st.getPath} failed")
      }
  }

  /** True where every value of `from` casts to `to` unchanged. */
  private def widens(from: DataType, to: DataType): Boolean = {
    val integral = Seq(ByteType, ShortType, IntegerType, LongType)
    (from, to) match {
      case _ if from == to => true
      case (ArrayType(f, _), ArrayType(t, _)) => widens(f, t)
      case (f, t) if integral.contains(f) && integral.contains(t) =>
        integral.indexOf(f) < integral.indexOf(t)
      case (ByteType | ShortType | IntegerType | FloatType, DoubleType) =>
        true
      case (ByteType | ShortType, FloatType) => true
      case _ => false
    }
  }

  /** `rows` cast by name to the chain's cells schema `to`, where every
    * cast is lossless; otherwise a [[CellSchemaMismatch]].
    */
  private def conformCells(rows: DataFrame, to: StructType): DataFrame = {
    val have = StructType(rows.schema.filter(_.name != "centroid_id"))
    if (have.fieldNames.toSet != to.fieldNames.toSet ||
        to.exists(f => !widens(have(f.name).dataType, f.dataType)))
      throw new CellSchemaMismatch(s"cells ${have.simpleString} do not " +
        s"cast losslessly to the index's ${to.simpleString}")
    rows.select(to.map(f => col(f.name).cast(f.dataType).as(f.name)) :+
      col("centroid_id"): _*)
  }

  /** Append NEW vectors to a persisted IVF index WITHOUT rebuild — the
    * continuous-ingestion path for embeddings, the vector mirror of the
    * text side's standing shingle index (`Dedup.probeShingleIndex`).
    * The incoming shard is assigned to the EXISTING trained centroids
    * (and, for PQ, encoded with the frozen codebooks) and written as a
    * new SEGMENT: a fresh version dir holding only the delta cells, the
    * trained state copied forward, and a `segments` manifest = parent's
    * manifest + itself. One atomic `_CURRENT` flip commits; probes read
    * the probed cells of ALL segments, so probe I/O stays ∝
    * nprobe/nlist of the total corpus and append I/O is ∝ |delta|.
    *
    * Crash-safety inherits the build's protocol: a partial append dir
    * (no `_COMMITTED` marker) is never pointed to, and GC pins every
    * segment a kept manifest references. Centroids are FROZEN at
    * append time — the standard IVF trade (drifted data degrades
    * recall, not correctness); retraining is a rebuild. The delta's
    * cells are cast to the chain's cells schema where the cast is
    * lossless (INT → BIGINT ids, say) and refused with a
    * [[CellSchemaMismatch]] otherwise.
    */
  def appendIvfIndex(dir: String, incoming: DataFrame,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     tag: Option[String] = None): Unit =
    appendIvf(dir, incoming, tag, "appendIvfIndex", books = false)(
      rawCells(idCol, vecCol))

  /** The append of every IVF family: the tag check, the empty check,
    * then the delta's cells, typed to the chain's schema, written as a
    * new segment with the trained state copied forward.
    */
  private def appendIvf(dir: String, incoming: DataFrame,
                        tag: Option[String], op: String, books: Boolean)(
      cells: Trained => DataFrame => DataFrame): Unit =
    SegmentedIndex.asOp(incoming.sparkSession, op) {
      val spark = incoming.sparkSession
      val parent = indexVersion(spark, dir)
      val parentSegs = indexSegments(spark, dir, parent)
      // a batch whose tag is already on the committed chain was fully
      // ingested before a crash (segment commit precedes checkpoint
      // commit), and a quiet ingest tick has nothing to commit
      if (!SegmentedIndex.tagCommitted(spark, dir, parentSegs, tag) &&
          !incoming.isEmpty) {
        // the base segment's footer types the chain (lazily listed: a
        // later segment only when the base holds no cell)
        val rows = cells(readTrained(spark, dir, parent, books))(incoming)
        val typed = cellsSchema(spark, dir, parentSegs.iterator.flatMap(s =>
          cellDirs(spark, dir, Seq(s)))).fold(rows)(conformCells(rows, _))
        val version = SegmentedIndex.newVersionName()
        copyTrainedState(spark, dir, parent, version)
        writeCells(typed, s"$dir/$version/cells")
        SegmentedIndex.commitAppend(spark, dir, version, parent,
          parentSegs, tag)
      }
    }

  /** foreachBatch sink for streaming ingest into a persisted index:
    * each micro-batch lands via [[appendIvfIndex]] under the
    * `<streamId>#<batchId>` tag (exactly-once under checkpoint replay,
    * a fresh namespace on a reset checkpoint; see
    * [[graft.sources.SegmentedIndex.streamSink]]), and `maxSegments > 0`
    * folds the chain with [[compactIvfIndex]] once it grows past that.
    */
  def ivfStreamSink(dir: String, checkpointDir: String,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    maxSegments: Int = 0)
      : (DataFrame, Long) => Unit =
    SegmentedIndex.maintainedSink(dir, checkpointDir, maxSegments)(
      appendIvfIndex(dir, _, idCol, vecCol, _))(compactIvfIndex(_, dir))

  /** Probe a persisted index: the probed cell set (≤ queries × nprobe
    * ids, computed from the small query side) is all the cells scan
    * lists, across EVERY segment of the current version. Results are
    * identical to [[ivfTopK]] with the same trained centroids over the
    * union corpus.
    */
  def ivfProbeIndexed(dir: String, queries: DataFrame, k: Int,
                      nprobe: Int = 0,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame =
    SegmentedIndex.asOp(queries.sparkSession, "ivfProbeIndexed") {
      val spark = queries.sparkSession
      val ver = indexVersion(spark, dir)
      val cents = readCentroids(spark, dir, ver)
      val probed = assignCells(queries, cents, "query_id", "q_vec",
        if (nprobe > 0) nprobe else deriveNprobe(cents.length),
        idCol, vecCol)
      val cells = probedCells(spark, dir, ver, probed)
        .select(col(idCol).as("cand_id"), col(vecCol).as("c_vec2"),
          col("centroid_id"))
      rankProbed(cells, probed, k)
    }

  /** Distinct ids of `train` rows whose cosine to ANY `evalSet` row
    * is ≥ `tau`, candidate pairs blocked by trained IVF cell: every
    * train row assigns to its 1 nearest cell (zero-shuffle per-row
    * argmax over centroid literals), while the SMALL eval side probes
    * `nprobe` cells (broadcast) so a leak sitting near a cell boundary
    * is still caught. Compared pairs ∝ |eval| × cell population ×
    * nprobe — never |train| × |eval| — and cell population stays
    * bounded because nlist ∝ corpus. The semantic-decontamination
    * primitive: an eval paraphrase shares no exact shingle with its
    * source but sits at cosine ≈ 1 (embedding-space dedup in the
    * SemDeDup mold — Abbas et al. 2023 — applied to eval-set
    * contamination rather than intra-corpus duplication).
    */
  def semanticMatchedIds(train: DataFrame, evalSet: DataFrame,
                         cents: Array[(Int, Array[Double])],
                         tau: Double, nprobe: Int = 0,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame = {
    val np = if (nprobe > 0) nprobe else deriveNprobe(cents.length)
    val t = assignCells(train, cents, "t_id", "t_vec", probes = 1,
      idCol, vecCol)
    val e = broadcast(assignCells(evalSet, cents, "e_id", "e_vec", np,
      idCol, vecCol))
    t.join(e, Seq("centroid_id"))
      .filter(cosine(col("t_vec"), col("e_vec")) >= tau)
      .select(col("t_id").as(idCol)).distinct()
  }

  /** Distinct ids to DROP under intra-corpus semantic deduplication —
    * the SemDeDup primitive proper (Abbas et al. 2023): within each
    * trained-IVF cell, a row is dropped when a SMALLER-id row of the
    * same cell sits at cosine ≥ `tau` (keep-min-id is the
    * deterministic stand-in for "keep one representative per ε-ball").
    * Pairs are blocked by the 1-NN cell on both sides, so compared
    * pairs ∝ Σ cell², bounded because nlist ∝ corpus — never n².
    * Survivors are pairwise non-near-dup within every cell: a survivor
    * by definition has NO smaller-id near-dup (dropped or not), so
    * re-running on the survivor set returns empty (pinned in
    * SemDedupSpec). Like SemDeDup itself, a near-dup pair straddling a
    * cell boundary is not compared — the documented recall trade of
    * cluster-blocked dedup.
    */
  def semDedupDropIds(vecs: DataFrame,
                      cents: Array[(Int, Array[Double])],
                      tau: Double, idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    val a = assignCells(vecs, cents, "a_id", "a_vec", probes = 1,
      idCol, vecCol)
    val b = assignCells(vecs, cents, "b_id", "b_vec", probes = 1,
      idCol, vecCol)
    a.join(b, Seq("centroid_id"))
      .filter(col("a_id") > col("b_id") &&
        cosine(col("a_vec"), col("b_vec")) >= tau)
      .select(col("a_id").as(idCol)).distinct()
  }

  // ───────────────────────── IVF-PQ ─────────────────────────
  //
  // Design per the published IVFADC scheme (Jégou, Douze & Schmid,
  // "Product Quantization for Nearest Neighbor Search", IEEE TPAMI
  // 2011 — the construction FAISS popularized), re-expressed
  // Spark-first: quantizers as plan literals, cells as hive
  // partitions, ADC inside whole-stage codegen.
  //
  // Product quantization: split every vector into `m` contiguous
  // subspaces and replace each sub-vector by the id of its nearest
  // codeword from a per-subspace codebook of `ksub` entries. The
  // persisted index then stores m SMALL INTS per vector instead of
  // dim floats — at the defaults (m=16, ksub=64, dim=64 float) the
  // per-vector payload drops 64×4 bytes → 16 six-bit codes (12 bytes
  // of information; parquet dictionary-encodes them to ~that), which
  // is THE memory/IO lever that lets a 100 TB embedding corpus fit a
  // cluster's page cache. The defaults sit at the FAISS-typical
  // operating point (sub-vector of 4 dims, measured ADC recall@5 =
  // 0.575 against the IVF probe's own 0.65 exact-scoring ceiling at
  // sf0.1); the earlier toy (m=4, ksub=16) point collapsed to
  // recall 0.100 — 16 bits of code space ties nearly every candidate
  // and the id tiebreak decides ranks — and survives only in
  // IvfPqSpec's explicit-argument contract tests. Scoring is ADC (asymmetric distance
  // computation): the query stays exact, candidates are scored
  // against their reconstruction decode(codes) — expressed here as
  // cos(q, decode(codes)) through the proven fused cosine kernel,
  // algebraically the classic per-subspace LUT sum
  // (dot(q, decode(codes)) = Σⱼ dot(qⱼ, cw[j, codeⱼ])).
  //
  // Everything is deterministic (bounded hash sample + maxmin seeding
  // + fixed Lloyd iterations, driver-side), so the codebooks — like
  // the IVF centroids — are pinned into a rendered DuckDB oracle and
  // the whole encode→probe→rank phase is hash-verified.

  /** Driver-side L2 k-means for one PQ subspace: Gonzalez maxmin
    * seeding (first sample point, then repeatedly the point farthest
    * from its nearest chosen seed; ties → lower sample index) +
    * `iters` Lloyd steps (argmin L2, ties → lower code; empty cells
    * keep their codeword). Pure function of the sample — bit-
    * deterministic across runs and hosts.
    */
  private def trainL2(pts: Array[Array[Double]], k: Int, iters: Int)
      : Array[Array[Double]] = {
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    val chosen = new Array[Int](k)
    chosen(0) = 0
    // bestD(i) = L2² to the nearest chosen seed; -1 marks chosen (never
    // the maxmin argmax again, since distances are ≥ 0)
    val bestD = pts.map(p => d2(p, pts(0)))
    bestD(0) = -1.0
    var c = 1
    while (c < k) {
      var arg = 0; var best = -1.0; var i = 0
      while (i < pts.length) {
        if (bestD(i) > best) { best = bestD(i); arg = i }
        i += 1
      }
      chosen(c) = arg
      i = 0
      while (i < pts.length) {
        val dd = d2(pts(i), pts(arg))
        if (dd < bestD(i)) bestD(i) = dd
        i += 1
      }
      bestD(arg) = -1.0
      c += 1
    }
    var cents: Array[Array[Double]] = chosen.map(pts(_).clone())
    (0 until iters).foreach { _ =>
      val sums = Array.fill(k)(new Array[Double](pts.head.length))
      val counts = new Array[Long](k)
      pts.foreach { p =>
        var arg = 0; var best = Double.MaxValue; var j = 0
        while (j < k) {
          val s = d2(p, cents(j))
          if (s < best) { best = s; arg = j }
          j += 1
        }
        counts(arg) += 1
        var d = 0
        while (d < p.length) { sums(arg)(d) += p(d); d += 1 }
      }
      cents = cents.zipWithIndex.map { case (old, j) =>
        if (counts(j) == 0) old else sums(j).map(_ / counts(j))
      }
    }
    cents
  }

  /** Train the `m` PQ sub-codebooks (ksub codewords each) on the same
    * bounded deterministic sample as [[trainCentroids]] — at 100 TB a
    * PQ codebook, like the coarse quantizer, is trained on ~10⁴
    * sampled vectors and broadcast; never on the corpus. Result shape:
    * (m)(ksub)(dim/m).
    */
  /** Subquantizer count for a dimension: one 4-d subvector per 4
    * dimensions — m = dim/4 holds BITS PER DIMENSION constant
    * (log2(ksub)/4 = 1.5 b/dim at the default ksub) as embeddings get
    * wider. The r11 dim-transfer probe (BASELINE.md round-11) measured
    * why this must scale: at a FIXED m=16 the subvector width grows
    * with dim and ADC recall@5 collapses 0.59 → 0.23 → 0.19 across
    * 64/256/768-d on the same clustered corpus; deriving m holds the
    * quantization rate — and at 64-d derives exactly the historical
    * m=16 operating point, so every existing index and oracle is
    * bit-identical.
    */
  def derivePqM(dim: Int): Int = math.max(1, dim / 4)

  def trainPqBooks(corpus: DataFrame, m: Int = 0, ksub: Int = 64,
                   iters: Int = 4, sampleN: Int = 0,
                   idCol: String = "vec_id", vecCol: String = "embedding")
      : Array[Array[Array[Double]]] = {
    val n = math.max(1L, corpus.count())
    val sN = if (sampleN > 0) sampleN else math.max(2000, 32 * ksub)
    memoized(s"pq|$n|$m|$ksub|$iters|$sN|$idCol|$vecCol|" +
      planKey(corpus)) {
      val pts = hashSample(corpus, sN, n, idCol, vecCol)
      require(pts.nonEmpty, "PQ training sample is empty")
      val dim = pts.head.length
      val mEff = if (m > 0) m else derivePqM(dim)
      require(dim % mEff == 0,
        s"dim $dim not divisible by m=$mEff subspaces")
      val ds = dim / mEff
      Array.tabulate(mEff) { j =>
        val sub = pts.map(_.slice(j * ds, j * ds + ds))
        trainL2(sub, math.min(ksub, sub.length), iters)
      }
    }.map(_.map(_.clone()))
  }

  /** The m PQ codes of a vector — zero-shuffle per-row argmin over the
    * trained codewords, the PQ mirror of [[nearestCellStructs]].
    * Comparison key is ‖c‖² − 2·x·c (argmin-equal to L2, the ‖x‖²
    * term is constant per sub-vector) computed with the exact op order
    * the DuckDB oracle replays
    * (`ORDER BY c2 - 2 * list_dot_product(sub, cw), code`); ties break
    * to the lower code on both engines. Runs as the native
    * [[org.apache.spark.sql.graft.PqEncode]] kernel — the codebooks
    * ride as a plan-bound object, so generated-code size is O(1) in
    * (m, ksub) and the argmin is a flat primitive loop. That cost
    * profile (dim·ksub multiplies/row, no per-row sort) is what makes
    * FAISS-grade codebook sizes the DEFAULT instead of toy ones.
    */
  def pqCodes(vec: Column, books: Array[Array[Array[Double]]]): Column =
    org.apache.spark.sql.graft.Native.pqEncode(vec, books)

  /** Decode m codes back to their codeword concatenation. ADC scoring
    * is `cosine(q_vec, pqRecon(codes))`: the reconstruction never
    * materializes per row beyond the fused kernel's loop, and the
    * codebooks ride into the plan as literals (m × ksub × dim/m
    * doubles — bytes, not data).
    */
  def pqRecon(codes: Column, books: Array[Array[Array[Double]]])
      : Column =
    concat(books.zipWithIndex.map { case (book, j) =>
      element_at(typedlit(book.map(_.toSeq).toSeq),
        element_at(codes, j + 1) + 1)
    }: _*)

  /** Build a PERSISTED IVF-PQ index: trained coarse centroids +
    * per-subspace codebooks + the corpus reduced to
    * `(cand_id, codes)` hive-partitioned by nearest-centroid cell.
    * The cells hold NO raw vectors — per-vector payload is the m
    * codes, the on-disk compression the spec measures — and the same
    * crash-safe version/pointer protocol as [[buildIvfIndex]] commits
    * centroids, codebooks and cells atomically together. Precomputed
    * coarse centroids (e.g. the beyond-cap sharded trainer) compose
    * with PQ exactly as with the raw index.
    */
  def buildIvfPqIndex(corpus: DataFrame, dir: String,
                      m: Int = 0, ksub: Int = 64,
                      nlist: Int = 0, sampleN: Int = 0, iters: Int = 4,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      centroids: Option[Array[(Int, Array[Double])]] =
                        None): Unit =
    buildIvf(corpus, dir, "buildIvfPqIndex")(Trained(
      centroids.getOrElse(
        trainCentroids(corpus, nlist, sampleN, iters, idCol, vecCol)),
      Some(trainPqBooks(corpus, m, ksub, iters, sampleN, idCol, vecCol))))(
      pqCells(idCol, vecCol))

  /** PQ cells: the m codes of each vector under the codebooks. */
  private[sim] def pqCells(idCol: String, vecCol: String)(t: Trained)
      : DataFrame => DataFrame =
    withCell(_, t.cents, vecCol).select(col(idCol).as("cand_id"),
      col("centroid_id"), pqCodes(col(vecCol), t.books.get).as("codes"))

  /** The trained PQ codebooks of one committed index version,
    * shape (m)(ksub)(dim/m).
    */
  def readCodebooks(spark: SparkSession, dir: String, version: String)
      : Array[Array[Array[Double]]] =
    spark.read.schema(CodebookSchema).parquet(s"$dir/$version/codebooks")
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .groupBy(_._1).toArray.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3))

  /** Append NEW vectors to a persisted IVF-PQ index WITHOUT rebuild:
    * the incoming shard is assigned to the EXISTING centroids and
    * encoded with the FROZEN codebooks (the PQ analog of the standard
    * frozen-quantizer trade — drifted data degrades quantization
    * error, never correctness), then lands as a delta segment of
    * codes-only cells — I/O and encode work ∝ |delta|. Same segment
    * path and tag protocol as [[appendIvfIndex]].
    */
  def appendIvfPqIndex(dir: String, incoming: DataFrame,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       tag: Option[String] = None): Unit =
    appendIvf(dir, incoming, tag, "appendIvfPqIndex", books = true)(
      pqCells(idCol, vecCol))

  /** Probe a persisted IVF-PQ index. Same pruned cells read as
    * [[ivfProbeIndexed]], but the scan reads only `(cand_id, codes)`:
    * probe I/O per candidate is m codes, not dim floats (the ~32×
    * read-volume drop that makes a 100 TB corpus probe-able), and
    * ranking is ADC over the on-the-fly reconstruction. Approximate
    * scores are surfaced honestly as `pq_cosine`.
    */
  def ivfPqProbeIndexed(dir: String, queries: DataFrame, k: Int,
                        nprobe: Int = 0,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame =
    SegmentedIndex.asOp(queries.sparkSession, "ivfPqProbeIndexed") {
      val spark = queries.sparkSession
      val ver = indexVersion(spark, dir)
      val t = readTrained(spark, dir, ver, books = true)
      val probed = assignCells(queries, t.cents, "query_id", "q_vec",
        if (nprobe > 0) nprobe else deriveNprobe(t.cents.length),
        idCol, vecCol)
      val cells = probedCells(spark, dir, ver, probed)
        .select(col("cand_id"), col("codes"), col("centroid_id"))
      rankTopK(broadcast(probed).join(cells, Seq("centroid_id"))
        .filter(col("query_id") =!= col("cand_id"))
        .select(col("query_id"), col("cand_id"),
          cosine(col("q_vec"), pqRecon(col("codes"), t.books.get))
            .as("cos")), k, "pq_cosine")
    }

  /** Refined PQ probe — ADC retrieve, exact re-rank (the IVFPQ+R
    * construction of Jégou et al. 2011 §V, with the refinement read
    * from the source corpus instead of a second code layer): the
    * codes-only index ranks `refine × k` candidates per query by ADC,
    * then ONLY those ids fetch their raw vectors for an exact cosine
    * re-rank. ADC recall@k at fixed code length decays as the corpus
    * (and so the probed candidate count) grows — the standard failure
    * mode this construction exists for; recall of the refined probe is
    * P(true top-k ⊆ ADC top-refine·k), which degrades far slower.
    *
    * Scale shape: the candidate set is |queries| × refine·k ids —
    * BROADCAST against the corpus scan, so the refinement costs one
    * pass over the corpus with a hash-probe filter (at deployment
    * scale, an id-lookup against the vector store: refine·k random
    * reads per query, the retrieve-then-rerank pattern every
    * production ANN service runs). Probe I/O through the index stays
    * codes-only; raw vectors move ONLY for candidates that survived
    * ADC. Fully deterministic given the pinned quantizers (ADC
    * boundary ties break by cand_id), so the whole
    * retrieve→fetch→re-rank phase hash-verifies against the rendered
    * codebook-pinned oracle.
    */
  def ivfPqProbeRefined(dir: String, corpus: DataFrame,
                        queries: DataFrame, k: Int, refine: Int = 4,
                        nprobe: Int = 0,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val cand = ivfPqProbeIndexed(dir, queries, k * refine, nprobe,
        idCol, vecCol)
      .select(col("query_id"), col("cand_id"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("q_vec"))
    // candidates (with their query vectors) broadcast; the corpus
    // side streams through one scan — no shuffle of raw vectors
    val withQ = broadcast(cand.join(q, Seq("query_id")))
    val c = corpus.select(col(idCol).as("cand_id"),
      col(vecCol).as("c_vec"))
    rankTopK(c.join(withQ, Seq("cand_id"))
      .select(col("query_id"), col("cand_id"),
        cosine(col("q_vec"), col("c_vec")).as("cos")), k)
  }

  // ───────────────────────── IVF-SQ8 ─────────────────────────
  //
  // Scalar quantization (FAISS's IVF-SQ8 construction): cells store
  // one symmetric int8 code per dimension — 64 B/vec against 512 B
  // raw and ~12 B PQ — the middle point of the compression spectrum.
  // Unlike ADC, scoring is EXACT in quantized space (integer dots
  // have no fp reassociation and the per-vector scales cancel in the
  // cosine), so recall does not decay with candidate count the way
  // PQ's does, and the probe hash-verifies through the same
  // floor-rule oracle as sim_quantized_topk.

  /** Build a PERSISTED IVF-SQ8 index: trained coarse centroids + the
    * corpus reduced to `(cand_id, int8 codes)` hive-partitioned by
    * nearest-centroid cell, under the crash-safe version/pointer
    * protocol. Norms are NOT stored — they recompute exactly from the
    * codes (integer dot), keeping the payload at one byte per
    * dimension.
    */
  def buildIvfSq8Index(corpus: DataFrame, dir: String,
                       nlist: Int = 0, sampleN: Int = 0, iters: Int = 4,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       centroids: Option[Array[(Int, Array[Double])]] =
                         None): Unit =
    buildIvf(corpus, dir, "buildIvfSq8Index")(Trained(centroids.getOrElse(
      trainCentroids(corpus, nlist, sampleN, iters, idCol, vecCol))))(
      sq8Cells(idCol, vecCol))

  /** SQ8 cells: one symmetric int8 code per dimension. */
  private[sim] def sq8Cells(idCol: String, vecCol: String)(t: Trained)
      : DataFrame => DataFrame =
    withCell(_, t.cents, vecCol).select(col(idCol).as("cand_id"),
      col("centroid_id"),
      org.apache.spark.sql.graft.Native.quantizeI8(col(vecCol)).as("codes"))

  /** Append NEW vectors to a persisted IVF-SQ8 index WITHOUT rebuild —
    * the easiest member of the append family: the symmetric per-vector
    * int8 quantizer (scale = max|x|/127, derived per ROW) has no
    * trained state to freeze beyond the coarse centroids, so the delta
    * shard's codes are bit-identical to what a full rebuild would
    * store. Same segment path and tag protocol as [[appendIvfIndex]].
    */
  def appendIvfSq8Index(dir: String, incoming: DataFrame,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        tag: Option[String] = None): Unit =
    appendIvf(dir, incoming, tag, "appendIvfSq8Index", books = false)(
      sq8Cells(idCol, vecCol))

  /** foreachBatch sink for streaming ingest into a persisted IVF-SQ8
    * index: [[ivfStreamSink]] with [[appendIvfSq8Index]] as the append.
    */
  def sq8StreamSink(dir: String, checkpointDir: String,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    maxSegments: Int = 0)
      : (DataFrame, Long) => Unit =
    SegmentedIndex.maintainedSink(dir, checkpointDir, maxSegments)(
      appendIvfSq8Index(dir, _, idCol, vecCol, _))(compactIvfIndex(_, dir))

  /** foreachBatch sink for streaming ingest into a persisted IVF-PQ
    * index: [[ivfStreamSink]] with [[appendIvfPqIndex]] as the append
    * (deterministic per row, so streamed segments are bit-identical to
    * a flat append's however the stream batched them).
    */
  def pqStreamSink(dir: String, checkpointDir: String,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding",
                   maxSegments: Int = 0)
      : (DataFrame, Long) => Unit =
    SegmentedIndex.maintainedSink(dir, checkpointDir, maxSegments)(
      appendIvfPqIndex(dir, _, idCol, vecCol, _))(compactIvfIndex(_, dir))

  /** COMPACT a persisted IVF-family index (raw, PQ or SQ8 — one
    * segment path serves all three): fold the current version's
    * segment chain into ONE fresh base segment, the third verb of the
    * standing-index lifecycle and the mirror of
    * `Dedup.compactShingleIndex`. After N appends a probed cell opens
    * O(N) files and the probe's fixed per-file cost, not data volume,
    * dominates. Compaction reads the cells of every segment as one
    * scan (a vector lives wholly in one segment, so it is exact) and
    * rewrites them through [[writeCells]], one file per cell, while the
    * small trained state is copied forward verbatim: quantizers are
    * frozen across appends, so probes of the compacted index are
    * bit-identical to segmented probes. Reads index files only — cost
    * ∝ index size (codes for PQ/SQ8), never the corpus — and runs no
    * metadata job, so its job count does not grow with the chain.
    *
    * Commits as a fresh BASE carrying the chain's exactly-once tags in
    * `_TAGS` ([[graft.sources.SegmentedIndex.commitCompact]]): a
    * checkpoint-replayed micro-batch whose segment was folded in still
    * no-ops, and the keep-window GC retains the parent chain for
    * in-flight probes. No-op when already one segment.
    */
  def compactIvfIndex(spark: SparkSession, dir: String): Unit =
    SegmentedIndex.asOp(spark, "compactIvfIndex") {
      val parent = indexVersion(spark, dir)
      val segs = indexSegments(spark, dir, parent)
      if (segs.size > 1) {
        val version = SegmentedIndex.newVersionName()
        copyTrainedState(spark, dir, parent, version)
        val dirs = cellDirs(spark, dir, segs)
        writeCells(scanCells(spark, dirs, chainSchema(spark, dir, dirs)),
          s"$dir/$version/cells")
        SegmentedIndex.commitCompact(spark, dir, version, parent,
          SegmentedIndex.committedTags(SegmentedIndex.fsFor(spark, dir),
            dir, segs))
      }
    }

  /** DESCRIBE the standing IVF-family index: the per-(segment, cell)
    * population histogram `(seg_ord, centroid_id, n_vecs)`, seg_ord in
    * manifest order — the observability verb of the lifecycle. Cell
    * balance is THE operational health signal for an IVF index (a
    * skewed cell is a slow probe and a recall risk; nlist ∝ corpus only
    * holds if the cells actually fill evenly), and segment fan-in per
    * cell is what schedules compaction. One scan of the chain's cells
    * that reads no data column: the counts come from the partition
    * column and the files' row counts, each file's segment from its
    * path.
    */
  def describeIvfIndex(spark: SparkSession, dir: String): DataFrame =
    SegmentedIndex.asOp(spark, "describeIvfIndex") {
      val segs = indexSegments(spark, dir, indexVersion(spark, dir))
      val segOrd = element_at(typedlit(segs.zipWithIndex.toMap),
        regexp_extract(col("_metadata.file_path"),
          "([^/]+)/cells/centroid_id=", 1))
      scanCells(spark, cellDirs(spark, dir, segs), new StructType())
        .groupBy(segOrd.as("seg_ord"), col("centroid_id"))
        .agg(count(lit(1)).as("n_vecs"))
    }

  /** Probe a persisted IVF-SQ8 index: the same pruned cells read as
    * [[ivfProbeIndexed]], but the scan moves int8 codes (1 byte/dim)
    * and ranking is the exact quantized-space cosine of
    * [[quantizedTopK]] — integer dot over codes, norms recomputed
    * exactly, zero-norm codes ineligible on both sides. Queries
    * quantize at probe time with the same ⌊x/scale + 0.5⌋ rule, so
    * every compared value is bit-portable and the whole
    * assign→prune→rank phase hash-verifies.
    */
  def ivfSq8ProbeIndexed(dir: String, queries: DataFrame, k: Int,
                         nprobe: Int = 0,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame =
    SegmentedIndex.asOp(queries.sparkSession, "ivfSq8ProbeIndexed") {
      import org.apache.spark.sql.graft.Native
      val spark = queries.sparkSession
      val ver = indexVersion(spark, dir)
      val cents = readCentroids(spark, dir, ver)
      val probed = assignCells(queries, cents, "query_id", "q_vec",
          if (nprobe > 0) nprobe else deriveNprobe(cents.length),
          idCol, vecCol)
        .withColumn("q_code", Native.quantizeI8(col("q_vec")))
        .withColumn("q_norm",
          sqrt(Native.dotI8(col("q_code"), col("q_code")).cast("double")))
        .filter(col("q_norm") > 0)
        .select(col("centroid_id"), col("query_id"), col("q_code"),
          col("q_norm"))
      val cells = probedCells(spark, dir, ver, probed)
        .withColumn("c_norm",
          sqrt(Native.dotI8(col("codes"), col("codes")).cast("double")))
        .filter(col("c_norm") > 0)
      rankTopK(broadcast(probed).join(cells, Seq("centroid_id"))
        .filter(col("query_id") =!= col("cand_id"))
        .select(col("query_id"), col("cand_id"),
          (Native.dotI8(col("q_code"), col("codes")).cast("double") /
            (col("q_norm") * col("c_norm"))).as("cos")), k)
    }

  /** Exact top-k over int8-QUANTIZED vectors — the memory-bandwidth
    * scale path: per-vector symmetric codes (scale = max|x|/127) are 8×
    * smaller than doubles, so the corpus scan moves 8× fewer bytes and
    * the pair kernel is an integer multiply-add
    * ([[org.apache.spark.sql.graft.DotProductI8]]). Integer dots are
    * EXACT (no fp reassociation), so ranking is bit-deterministic in
    * any engine quantizing with the same ⌊x/scale + 0.5⌋ rule — this
    * query oracles, unlike fp-sensitive sketch paths. Norms are
    * quantized-space norms; the per-vector scales cancel in the cosine.
    */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    import org.apache.spark.sql.graft.Native
    def coded(df: DataFrame, id: String, vec: String, nrm: String)
        : DataFrame = {
      val q8 = Native.quantizeI8(col(vecCol))
      df.select(col(idCol).as(id), q8.as(vec))
        .withColumn(nrm, sqrt(Native.dotI8(col(vec), col(vec))
          .cast("double")))
    }
    // zero-norm codes (all-zero vectors, or vectors that quantize to
    // zero) are ineligible on BOTH sides: 0/0 = NaN, and NaN sorts
    // GREATEST under the descending rank below, so one degenerate
    // candidate would surface as the top match for every query — the
    // same zero-norm rule trainCentroids applies to its seed geometry.
    val q = broadcast(coded(queries, "query_id", "q_vec", "q_norm")
      .filter(col("q_norm") > 0))
    val c = coded(corpus, "cand_id", "c_vec", "c_norm")
      .filter(col("c_norm") > 0)
    val scored = q.join(c, col("query_id") =!= col("cand_id"))
      .withColumn("cos",
        Native.dotI8(col("q_vec"), col("c_vec")).cast("double") /
          (col("q_norm") * col("c_norm")))
      .withColumn("cos_r", round(col("cos"), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_r").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"),
        round(col("cos"), 4).as("cosine"))
  }

  /** Embedding near-duplicate pairs: cosine ≥ threshold among pairs
    * sharing a coarse partition (label here; a cluster id from k-means
    * in production — the IVF idea). Keeps the pair count far below n².
    */
  def cosineNearDupPairs(vecs: DataFrame, threshold: Double,
                         partitionCol: String = "label",
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame = {
    val a = vecs.select(col(idCol).as("a_id"), col(vecCol).as("a_vec"),
      norm(col(vecCol)).as("a_norm"), col(partitionCol).as("part"))
    val b = vecs.select(col(idCol).as("b_id"), col(vecCol).as("b_vec"),
      norm(col(vecCol)).as("b_norm"), col(partitionCol).as("part"))
    a.join(b, Seq("part"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos",
        dot(col("a_vec"), col("b_vec")) / (col("a_norm") * col("b_norm")))
      .filter(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("cos"), 4).as("cosine"))
  }

  /** CELL-REFINED near-dup pairs — [[cosineNearDupPairs]] with each
    * partition block subdivided by the vector's trained-IVF cell, the
    * same bound [[knnJoinCells]] applies to the kNN join (r4) and for
    * the same reason: the partition column's cardinality is fixed, so
    * unrefined pair volume is Σ|block|² and grows quadratically with
    * the corpus (the r11 sf10 bench measured the unrefined form at
    * 50.5× time for 10× data — the exact signature that demoted
    * `sim_knn_join`). Refining by cell bounds block size by
    * TargetCellSize with nlist ∝ corpus. Near-identical vectors
    * co-locate in a cell by construction (the dedup workload's planted
    * property, RecallProbe), and the blocking is part of the declared
    * semantics — the rendered oracle replays the identical assignment
    * from the pinned centroids, so the whole phase hash-verifies.
    */
  def cosineNearDupPairsCells(vecs: DataFrame, threshold: Double,
                              cents: Array[(Int, Array[Double])],
                              partitionCol: String = "label",
                              idCol: String = "vec_id",
                              vecCol: String = "embedding"): DataFrame = {
    val assigned = vecs.select(col(idCol), col(vecCol),
      col(partitionCol).as("part"),
      element_at(nearestCellStructs(col(vecCol), cents, 1), 1)
        .getField("centroid_id").as("cell"))
    val a = assigned.select(col(idCol).as("a_id"), col(vecCol).as("a_vec"),
      norm(col(vecCol)).as("a_norm"), col("part"), col("cell"))
    val b = assigned.select(col(idCol).as("b_id"), col(vecCol).as("b_vec"),
      norm(col(vecCol)).as("b_norm"), col("part"), col("cell"))
    a.join(b, Seq("part", "cell"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos",
        dot(col("a_vec"), col("b_vec")) / (col("a_norm") * col("b_norm")))
      .filter(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("cos"), 4).as("cosine"))
  }
}
