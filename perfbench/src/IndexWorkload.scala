package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.sources.SegmentedIndex
import graft.text.Dedup

/** `index_stream`: the shingle index on the shared `SegmentedIndex`
  * protocol — append, keep the segment chain at most `max_segments` long
  * by folding, probe — bypassing the CDC store.
  */
object IndexWorkload {

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val corpus = ctx.sz("corpus_docs", 4000).toLong
    val perStep = ctx.sz("docs_per_step", 500).toLong
    val probeN = ctx.sz("probe_docs", 200).toLong
    val maxSegments = ctx.sz("max_segments", 3).toInt
    // a fixed number of steps per run length, so every commit builds the
    // same index; two fold cycles before them warm every path up (append,
    // fold, and probes over one to three segments)
    val steps = ctx.sz("steps", math.max(3, math.round(ctx.seconds /
      ctx.sz("nominal_step_s", 1.6))).toInt).toInt
    val warmSteps = ctx.sz("warmup_fold_cycles", 2).toInt * maxSegments
    val len = ctx.sz("doc_tokens", 30).toInt
    val vocab = ctx.sz("vocab", 5000).toInt
    val base = s"${ctx.work}/index"
    val dir = s"$base/idx"

    Gen.corpusDocs(spark, ctx.seed, 0, corpus, len, vocab)
      .write.parquet(s"$base/corpus")
    Gen.corpusDocs(spark, ctx.seed, corpus, (warmSteps + steps) * perStep, len, vocab)
      .withColumn("step", ((col("doc_id") - corpus) / perStep).cast("int"))
      .repartition(col("step")).write.partitionBy("step").parquet(s"$base/appends")
    Gen.probeDocs(spark, ctx.seed, probeN, corpus, len, vocab)
      .write.parquet(s"$base/probes")
    val initial = spark.read.parquet(s"$base/corpus")
    val appends = spark.read.parquet(s"$base/appends")
    val probes = spark.read.parquet(s"$base/probes")
    ctx.info("input_hash") = "\"" + Gen.combine(Seq(
      "corpus" -> Gen.frameHash(initial), "appends" -> Gen.frameHash(appends),
      "probes" -> Gen.frameHash(probes))) + "\""
    def batch(s: Int) = spark.read.parquet(s"$base/appends/step=$s")
    ctx.note("inputs written and hashed")

    Dedup.buildShingleIndex(initial, dir)
    ctx.note("index built")
    def commit(s: Int): Boolean = {
      var folded = false
      Dedup.appendShingleIndex(dir, batch(s))
      SegmentedIndex.maintain(spark, dir, maxSegments) {
        folded = true
        ctx.op("index.fold")(Dedup.compactShingleIndex(spark, dir))
      }
      folded
    }
    def probe() = Dedup.probeShingleIndex(dir, probes).select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the warm-up cycles end on a fold: the measured steps start from one
    // segment and fold every third step
    (0 until warmSteps).foreach { w => commit(w); probe() }
    ctx.markSetupDone()

    val commits = mutable.ArrayBuffer.empty[Double]
    val foldFlags = mutable.ArrayBuffer.empty[Boolean]
    val probeS = mutable.ArrayBuffer.empty[Double]
    val commitCpu = mutable.ArrayBuffer.empty[Double]
    val probeCpu = mutable.ArrayBuffer.empty[Double]
    val chain = mutable.ArrayBuffer.empty[Double]
    var last = Set.empty[(Long, Long)]
    var s = warmSteps
    var docs = 0L
    val t0 = System.nanoTime()
    val cpu0 = Cpu.snapshot()
    while (s < warmSteps + steps) {
      val (folded, dt) = ctx.op("commit")(commit(s))
      commits += dt
      commitCpu += ctx.lastCpuS
      foldFlags += folded
      docs += perStep
      if (ctx.traced) chain += SegmentedIndex.segments(spark, dir,
        SegmentedIndex.currentVersion(spark, dir)).size.toDouble
      val (res, ps) = ctx.op("probe")(probe())
      probeS += ps
      probeCpu += ctx.lastCpuS
      last = res
      s += 1
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    ctx.metric("cpu_s_per_kevent", Cpu.seconds(cpu0, Cpu.snapshot()) /
      (docs / 1000.0), "s")
    ctx.note("measured steps done")
    ctx.committedEvents = docs
    ctx.metric("events_per_s", docs / wallS, "1/s")
    ctx.latency("commit", commits.toSeq)
    // closed loop: a step's documents are due when the step starts
    ctx.latency("freshness", commits.toSeq)
    ctx.latency("read", probeS.toSeq)
    ctx.latency("commit_cpu", commitCpu.toSeq)
    ctx.latency("read_cpu", probeCpu.toSeq)
    ctx.info("steps") = steps.toString
    ctx.info("folds") = foldFlags.count(identity).toString

    if (ctx.traced) {
      val byName = ctx.ops.groupBy(_.span.name)
      val commitOps = byName.getOrElse("commit", Nil)
      val folds = byName.getOrElse("index.fold", Nil)
      val appendS = commitOps.map { c =>
        c.span.seconds - folds.filter(_.span.parent == c.span.id)
          .map(_.span.seconds).sum }
      ctx.lay("index.append_s", Stats.median(appendS.toSeq), "s")
      ctx.lay("index.fold_s",
        if (folds.isEmpty) 0.0 else Stats.median(folds.map(_.span.seconds).toSeq), "s")
      ctx.lay("index.folds", folds.size.toDouble, "count")
      ctx.lay("index.fold_bytes_rewritten",
        if (folds.isEmpty) 0.0 else Stats.median(folds.map(_.fs.bytesWritten.toDouble).toSeq),
        "bytes")
      ctx.lay("index.chain_len_p50", Stats.median(chain.toSeq), "count")
      ctx.lay("index.probe_s", Stats.median(probeS.toSeq), "s")
    }

    val corpusDocs = initial.unionByName(appends.drop("step"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val probeDocs = probes.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    ctx.check("final_probe_equals_brute_force_jaccard") {
      val expected = Oracles.bruteForceJaccard(corpusDocs, probeDocs, 0.8)
      System.err.println(s"[perfbench] probe pairs: got ${last.size} expected ${expected.size}")
      last == expected && expected.nonEmpty
    }
    SegmentedIndex.awaitGc()
    val (bytes, files) = CdcWorkloads.du(dir)
    ctx.metric("store_bytes_per_row", bytes.toDouble / corpusDocs.size, "bytes")
    ctx.lay("store.files", files.toDouble, "count")
  }
}
