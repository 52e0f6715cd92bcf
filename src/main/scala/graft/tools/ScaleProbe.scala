package graft.tools

import org.apache.spark.sql.functions._

/** Scale-curve probe for the two STANDING-ARTIFACT paths — the ones
  * whose "cost ∝ delta, not corpus" claim carries the 100 TB story
  * (VERDICT r5 item 8): the persisted shingle dedup index and the
  * persisted IVF ANN index. For a given sf dir it measures
  *  - shingle index: build (one-off), then probe with a ~1/7 shard —
  *    probe cost must track the SHARD, not the corpus;
  *  - IVF index: build (one-off), probe 8 queries, append a 1/10
  *    delta — append cost must track the DELTA.
  * Emits one JSON line per run; ratios across sf dirs make the curve
  * (BASELINE.md extras table). Kept out of Bench because the inputs
  * (sf1/sf10 replicas) are generated locally, not driver testdata.
  *
  * Usage: runMain graft.tools.ScaleProbe <sfDir> [label]
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("localdata/sf1")
    val label = args.lift(1).getOrElse(sfDir)
    val spark = graft.LocalSession.builder().getOrCreate()
    val out = scala.collection.mutable.LinkedHashMap[String, Double]()
    def timed(name: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      out(name) = (System.nanoTime() - t0) / 1e9
    }
    def minOf2(name: String)(body: => Unit): Unit = {
      timed(name)(body); val first = out(name)
      timed(name)(body); out(name) = math.min(first, out(name))
    }

    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    out("n_docs") = docs.count().toDouble
    val shard = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 100000000L).as("doc_id"), col("text"))
    val shIdx = s"/tmp/graft_scaleprobe_shidx_${label.hashCode.abs}"
    timed("shingle_index_build_sec") {
      graft.text.Dedup.buildShingleIndex(docs, shIdx)
    }
    minOf2("shingle_index_probe_sec") {
      graft.text.Dedup.probeShingleIndex(shIdx, shard, k = 3,
          threshold = 0.8)
        .write.format("noop").mode("overwrite").save()
    }
    // FIXED-size shard (same ~5k docs at every sf): isolates
    // "probe cost ∝ shard" from corpus growth — the ratio of THIS
    // number across sf dirs is the load-bearing one
    val fixedShard = docs
      .filter(col("doc_id") % 7 === 0 && col("doc_id") < 35000)
      .select((col("doc_id") + 100000000L).as("doc_id"), col("text"))
    minOf2("shingle_index_probe_fixed_sec") {
      graft.text.Dedup.probeShingleIndex(shIdx, fixedShard, k = 3,
          threshold = 0.8)
        .write.format("noop").mode("overwrite").save()
    }
    // the documented production mitigation: df-capped probe (drops
    // boilerplate postings via the precomputed dfreq table before the
    // pair join) — measured so the BASELINE claim isn't prose
    minOf2("shingle_index_probe_fixed_dfcap_sec") {
      graft.text.Dedup.probeShingleIndex(shIdx, fixedShard, k = 3,
          threshold = 0.8, maxPostings = 100)
        .write.format("noop").mode("overwrite").save()
    }

    val vecs = graft.ops.SimilarityQueries.doubleVecs(spark, sfDir)
    out("n_vecs") = vecs.count().toDouble
    val ivfIdx = s"/tmp/graft_scaleprobe_ivf_${label.hashCode.abs}"
    timed("ivf_index_build_sec") {
      graft.sim.Similarity.buildIvfIndex(vecs, ivfIdx)
    }
    val probes = vecs.filter(col("vec_id") < 8)
    minOf2("ivf_index_probe_sec") {
      graft.sim.Similarity.ivfProbeIndexed(ivfIdx, probes, 5)
        .write.format("noop").mode("overwrite").save()
    }
    timed("ivf_append_sec") {
      graft.sim.Similarity.appendIvfIndex(ivfIdx,
        vecs.filter(col("vec_id") % 10 === 0))
    }
    // FIXED-size delta (same ~2k vectors at every sf): isolates
    // "append cost ∝ delta" from corpus growth
    timed("ivf_append_fixed_sec") {
      graft.sim.Similarity.appendIvfIndex(ivfIdx,
        vecs.filter(col("vec_id") % 10 === 1 && col("vec_id") < 20000))
    }

    val fields = out.map { case (k, v) =>
      "\"" + k + "\":" + BigDecimal(v)
        .setScale(3, BigDecimal.RoundingMode.HALF_UP) }
      .mkString(",")
    println(s"""{"probe":"$label","sf":"$sfDir",$fields}""")
    spark.stop()
  }
}
