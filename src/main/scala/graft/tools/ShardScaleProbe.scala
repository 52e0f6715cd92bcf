package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Beyond-cap IVF training probe (VERDICT r11 item 4): at a corpus
  * size where the derived nlist passes [[graft.sim.Similarity.MaxDerivedNlist]]
  * (n > ~262k), compare
  *  - CAPPED:   the default driver-trained codebook, nlist = 1024 —
  *              cells grow linearly with the corpus past the cap, so
  *              probe cost at a fixed recall target inflates;
  *  - SHARDED:  [[graft.sim.Similarity.trainCentroidsSharded]] —
  *              two-level k-means (per-hash-shard executor training →
  *              merge → one distributed Lloyd pass) at the UNCAPPED
  *              nlist = ceil(n/256), restoring bounded cells.
  * Both indexes are built through the same persisted protocol, both
  * tuned to the same 0.95 recall target by the same held-out tuner,
  * and both probed with the same query set: the row reports tuned
  * recall, probed-candidate mass (nprobe/nlist × n — the scan-cost
  * proxy that survives host noise), and wall-clock build/probe times.
  *
  * Corpus: [[genEmbeddings]] (deterministic clustered mixture — no
  * RNG, distributed generation).
  *
  * Usage: runMain graft.tools.ShardScaleProbe [n] [dim] [clusters] [shards]
  */
object ShardScaleProbe {

  /** Deterministic clustered corpus: (vec_id long, embedding
    * array<double> of `dim`, label int = cluster). A hash-seeded
    * mixture (no RNG, reproducible to the bit): `clusters` centers with
    * uniform[-1,1] coordinates, each vector = its center +
    * uniform[-1,1] noise per coordinate, so the cluster signal and the
    * intra-cluster spread carry equal per-coordinate variance: cells
    * overlap and nprobe buys recall. Pure column
    * expressions — generation is distributed and codegen'd, no driver
    * materialization at any n.
    */
  def genEmbeddings(spark: SparkSession, n: Long, dim: Int,
                    clusters: Int): DataFrame = {
    // uniform [-1, 1] from a 64-bit hash, exactly reproducible
    def u(cols: org.apache.spark.sql.Column*) =
      pmod(xxhash64(cols: _*), lit(2000001L)).cast("double") / 1000000.0 - 1.0
    val c = pmod(col("vec_id"), lit(clusters.toLong)).as("label")
    spark.range(n).select(col("id").as("vec_id"))
      .withColumn("label", c)
      .withColumn("embedding",
        transform(sequence(lit(0), lit(dim - 1)), j =>
          u(lit("c"), col("label"), j) + u(lit("n"), col("vec_id"), j)))
      .select(col("vec_id"), col("embedding"),
        col("label").cast("int").as("label"))
  }
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1048576L)
    val dim = args.lift(1).map(_.toInt).getOrElse(64)
    val clusters = args.lift(2).map(_.toInt).getOrElse(2048)
    val shards = args.lift(3).map(_.toInt).getOrElse(32)
    val spark = graft.LocalSession.builder().getOrCreate()
    import graft.sim.Similarity

    val dir = s"/tmp/graft_shardprobe_${n}_$dim"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    genEmbeddings(spark, n, dim, clusters)
      .write.parquet(s"$dir/corpus")
    val vecs = spark.read.parquet(s"$dir/corpus")

    val probes = vecs.filter(col("vec_id") < 32)
    // probe-COST measurement uses a 512-query batch: per-probe planning
    // overhead is ∝ nlist (hive-partition discovery) and fixed per
    // call, so a 32-query probe measures metadata, not scan; at 512
    // queries the candidate scan dominates, which is what scales
    val probesBig = vecs.filter(col("vec_id") < 512)
    val bruteTop = Similarity.bruteForceTopK(vecs, probes, 5)
      .select(col("query_id"), col("cand_id")).cache()
    val nBrute = bruteTop.count().toDouble
    def recall(df: DataFrame): Double =
      df.select(col("query_id"), col("cand_id"))
        .intersect(bruteTop).count() / nBrute
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // ---- CAPPED: the default path (nlist clamps at 1024) ----------
    val (_, buildCap) = timed(
      Similarity.buildIvfIndex(vecs, s"$dir/capped"))
    val centsCap = Similarity.readCentroids(spark, s"$dir/capped",
      Similarity.indexVersion(spark, s"$dir/capped"))
    val tunedCap = Similarity.tuneNprobe(vecs, centsCap, 0.95)
    val (probeCapDf, _) = timed(
      Similarity.ivfProbeIndexed(s"$dir/capped", probes, 5, tunedCap))
    val rCap = recall(probeCapDf)
    val (_, probeCapSec) = timed(
      Similarity.ivfProbeIndexed(s"$dir/capped", probesBig, 5, tunedCap)
        .write.format("noop").mode("overwrite").save())

    // ---- SHARDED: two-level training at the uncapped nlist --------
    val nlistFull =
      math.max(16L, (n + Similarity.TargetCellSize - 1) /
        Similarity.TargetCellSize).toInt
    val (centsShard, trainShardSec) = timed(
      Similarity.trainCentroidsSharded(vecs, nlist = nlistFull,
        shards = shards))
    val (_, buildShard) = timed(
      Similarity.buildIvfIndex(vecs, s"$dir/sharded",
        centroids = Some(centsShard)))
    val tunedShard = Similarity.tuneNprobe(vecs, centsShard, 0.95)
    val (probeShardDf, _) = timed(
      Similarity.ivfProbeIndexed(s"$dir/sharded", probes, 5, tunedShard))
    val rShard = recall(probeShardDf)
    val (_, probeShardSec) = timed(
      Similarity.ivfProbeIndexed(s"$dir/sharded", probesBig, 5,
        tunedShard).write.format("noop").mode("overwrite").save())

    // probed-candidate mass per query: coverage × corpus — the
    // host-noise-free scan-cost proxy
    val candCap = tunedCap.toDouble / centsCap.length * n
    val candShard = tunedShard.toDouble / centsShard.length * n

    println(f"""{"probe":"shardscale","n_vecs":$n,"dim":$dim,""" +
      f""""clusters":$clusters,"shards":$shards,""" +
      f""""capped":{"nlist":${centsCap.length},"tuned_nprobe":$tunedCap,""" +
      f""""recall_at5":$rCap%.3f,"cand_per_query":${candCap.toLong},""" +
      f""""build_sec":$buildCap%.1f,"probe_sec":$probeCapSec%.1f},""" +
      f""""sharded":{"nlist":${centsShard.length},""" +
      f""""tuned_nprobe":$tunedShard,""" +
      f""""recall_at5":$rShard%.3f,"cand_per_query":${candShard.toLong},""" +
      f""""train_sec":$trainShardSec%.1f,"build_sec":$buildShard%.1f,""" +
      f""""probe_sec":$probeShardSec%.1f}}""")
    spark.stop()
  }
}
