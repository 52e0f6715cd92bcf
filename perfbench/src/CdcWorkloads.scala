package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.streaming.CdcPipeline

/** The workloads on the CDC store (`graft.streaming.CdcPipeline`). */
object CdcWorkloads {

  val Cfg: CdcPipeline.Config = CdcPipeline.Config()
  /** Seeding commits use ids far above any loop batch id. */
  val SeedBatch = 1000000L
  val FlatCols = Seq("key", "ts_us", "event_id", "op", "amount", "score", "name")

  /** Bytes and regular files under a local directory. */
  def du(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val fs = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        (fs.map(Files.size).sum, fs.size.toLong)
      } finally s.close()
    }
  }

  /** Samples of the reads a downstream user makes of the store. */
  final class ReadSamples {
    val all = mutable.ArrayBuffer.empty[Double]
    val cpu = mutable.ArrayBuffer.empty[Double]
    val byKind = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def add(kind: String, s: Double): Unit = {
      all += s
      byKind.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += s
    }
  }

  /** The read set, each read materialized: a full `currentState` scan, a
    * lookup of `keys` on it, the state as of the previous commit and the
    * diff from it to the current one.
    */
  def readSet(ctx: Ctx, state: String, keys: Seq[Any], prev: Long, cur: Long,
              out: ReadSamples): Unit = {
    val spark = ctx.spark
    out.add("current_state", ctx.op("read.current_state")(
      ctx.noop(CdcPipeline.currentState(spark, state).get))._2)
    out.cpu += ctx.lastCpuS
    out.add("lookup", ctx.op("read.lookup")(
      CdcPipeline.currentState(spark, state).get
        .filter(col("key").isin(keys: _*)).collect())._2)
    out.cpu += ctx.lastCpuS
    out.add("as_of", ctx.op("read.as_of")(
      ctx.noop(CdcPipeline.stateAsOf(spark, state, prev).get))._2)
    out.cpu += ctx.lastCpuS
    out.add("diff", ctx.op("read.diff")(
      ctx.noop(CdcPipeline.stateDiff(spark, state, prev, cur, Cfg)))._2)
    out.cpu += ctx.lastCpuS
  }

  /** Keys the lookup read asks for, drawn from the seed. */
  def lookupKeys(ctx: Ctx, keys: Long): Seq[Any] =
    ctx.spark.range(100).select(Gen.uLong(ctx.seed, col("id"), 61, keys))
      .collect().map(_.getLong(0)).toSeq

  /** The two most recent commits' batch ids (previous, current). */
  def lastTwo(ctx: Ctx, state: String): (Long, Long) = {
    val ids = CdcPipeline.commits(ctx.spark, state).map(_._2)
    (ids(ids.size - 2), ids.last)
  }

  /** After the stream: the read set, `read_reps` times. */
  def afterReads(ctx: Ctx, state: String, keys: Seq[Any]): ReadSamples = {
    val (prev, cur) = lastTwo(ctx, state)
    // the warm-up passes compile and warm the read plans; they are not kept
    (1 to ctx.sz("read_warmups", 3).toInt).foreach(_ =>
      readSet(ctx, state, keys, prev, cur, new ReadSamples))
    val rs = new ReadSamples
    (1 to ctx.sz("read_reps", 4).toInt).foreach(_ =>
      readSet(ctx, state, keys, prev, cur, rs))
    rs
  }

  def reportReads(ctx: Ctx, rs: ReadSamples): Unit = {
    ctx.latency("read", rs.all.toSeq)
    ctx.latency("read_cpu", rs.cpu.toSeq)
    rs.byKind.foreach { case (k, xs) =>
      ctx.lay(s"read.${k}_s", Stats.median(xs.toSeq), "s") }
    if (ctx.traced) {
      // FS work of one read set (its four reads), warm-up pass included
      val reads = ctx.ops.filter(_.span.name.startsWith("read."))
      val sets = math.max(1, reads.size / rs.byKind.size)
      ctx.lay("read.fs_read_ops", reads.map(_.fs.readOps).sum.toDouble / sets, "count")
      ctx.lay("read.bytes_read", reads.map(_.fs.bytesRead).sum.toDouble / sets, "bytes")
    }
  }

  /** Final state against the SQL latest-wins replay; the store's bytes
    * per live row.
    */
  def checkState(ctx: Ctx, state: String, log: DataFrame, cols: Seq[String])
      : Unit = {
    val spark = ctx.spark
    val actual = CdcPipeline.currentState(spark, state).get
    val expected = Oracles.latestWins(spark, log, cols)
    var live = 0L
    ctx.check("final_state_equals_latest_wins_replay") {
      val (missing, extra) = Oracles.mismatch(expected, actual, cols)
      live = actual.count()
      System.err.println(s"[perfbench] oracle: live=$live missing=$missing extra=$extra")
      missing == 0 && extra == 0 && live > 0
    }
    graft.sources.PointerFile.awaitGc()
    val (bytes, files) = du(state)
    ctx.metric("store_bytes_per_row", bytes.toDouble / math.max(live, 1L), "bytes")
    ctx.lay("store.files", files.toDouble, "count")
    ctx.info("live_rows") = live.toString
  }

  // ---- cdc_trickle ---------------------------------------------------------

  /** Open loop through `CdcPipeline.start`: a generator thread renames
    * pre-written parquet files into the stream's source directory on a
    * fixed schedule.
    */
  def trickle(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val keys = ctx.sz("keys", 30000).toLong
    val perFile = ctx.sz("events_per_file", 1000).toInt
    // measured files arrive one per interval, far enough apart that each
    // gets a trigger of its own even when the host runs the triggers up to
    // ~2x slower, so one commit's work does not depend on the last one's speed
    val intervalMs = ctx.sz("interval_ms", 2000)
    // file 0 starts the query alone; files 1..nBurst arrive 4 a second to
    // bring the trigger path to speed, the next ones on the measured
    // schedule to settle it; the nMeas files after them are measured
    val burstMs = 250.0
    val nBurst = ctx.sz("warmup_burst_files", 12).toInt
    val nWarm = nBurst + ctx.sz("warmup_settle_files", 3).toInt
    val nMeas = math.max(1, math.round(ctx.seconds * 1000 / intervalMs).toInt)
    val nFiles = 1 + nWarm + nMeas
    // event time advances by this much per file, whatever the schedule
    val groupUs = 250000L
    val base = s"${ctx.work}/trickle"
    val staging = s"$base/staging"
    val src = s"$base/src"
    val state = s"$base/state"
    val ckpt = s"$base/ckpt"

    val snap = Gen.snapshot(spark, ctx.seed, keys)
    Gen.events(spark, ctx.seed, keys, nFiles, perFile, groupUs,
      2000000L, 0.05, 0.05)
      .repartition(col("g")).write.partitionBy("g").parquet(staging)
    ctx.note("inputs written")
    val staged = spark.read.parquet(staging)
    // per-file counts and content hashes in one pass
    val perGHash = staged.groupBy("g").agg(count(lit(1)),
      sum(xxhash64(staged.columns.toSeq.map(col): _*).cast("decimal(38,0)")))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDecimal(2).longValue))
      .toMap
    val perG = perGHash.map { case (g, (n, _)) => g -> n }
    ctx.info("input_hash") = "\"" + Gen.combine(
      ("snapshot" -> Gen.frameHash(snap)) +: perGHash.toSeq.sortBy(_._1)
        .map { case (g, h) => s"file$g" -> h }) + "\""
    val lkeys = lookupKeys(ctx, keys)
    ctx.note("inputs hashed")
    CdcPipeline.mergeBatch(snap.drop("ts"), state, Cfg, SeedBatch)
    ctx.note("store seeded")

    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val progCpu = new java.util.concurrent.ConcurrentHashMap[Long, Map[Long, Long]]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        progCpu.put(e.progress.batchId, Cpu.snapshot())
        progress.add(e.progress)
      }
    }
    spark.streams.addListener(listener)
    Files.createDirectories(Paths.get(src))
    def fileName(g: Int) = f"f$g%06d.parquet"
    def arrive(g: Int): Unit = {
      val part = Files.list(Paths.get(s"$staging/g=$g")).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(src, fileName(g)), StandardCopyOption.ATOMIC_MOVE)
    }
    val q = CdcPipeline.start(CdcPipeline.fileSource(spark, src, Gen.flatSchema),
      state, ckpt, Cfg, availableNow = false)
    arrive(0)
    q.processAllAvailable()

    val tw = System.currentTimeMillis()
    def due(g: Int): Long =
      if (g <= nBurst) tw + math.round((g - 1) * burstMs)
      else tw + math.round(nBurst * burstMs + (g - nBurst) * intervalMs)
    val t0 = due(nWarm + 1)
    val arrivals = mutable.LinkedHashMap.empty[String, Long]
    val lateS = mutable.ArrayBuffer.empty[Double]
    @volatile var genError: Option[Throwable] = None
    val gen = new Thread(() => {
      try (1 until nFiles).foreach { g =>
        val wait = due(g) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        arrive(g)
        lateS += (System.currentTimeMillis() - due(g)) / 1000.0
        if (g > nWarm) arrivals(fileName(g)) = due(g)
      } catch { case e: Throwable => genError = Some(e) }
    }, "perfbench-generator")
    gen.start()
    Thread.sleep(math.max(0L, t0 - System.currentTimeMillis()))
    ctx.markSetupDone()
    val cpu0 = Cpu.snapshot()
    val fs0 = if (ctx.traced) FsStats.now() else null
    gen.join()
    // a feed that stopped short would leave a run that checks out on the
    // files it did deliver but reports events it never offered
    genError.foreach { e => q.stop(); throw e }
    q.processAllAvailable()
    val lastBatch = q.lastProgress.batchId
    val deadline = System.currentTimeMillis() + 10000
    while (!progress.asScala.exists(_.batchId >= lastBatch) &&
           System.currentTimeMillis() < deadline) Thread.sleep(10)
    val fsDelta = if (ctx.traced) FsStats.now() - fs0 else null
    val cpuWin = Cpu.seconds(cpu0, Cpu.snapshot())
    q.stop()
    spark.streams.removeListener(listener)
    if (q.exception.nonEmpty) throw q.exception.get

    // file → batch from the query's own checkpoint: the file-source log
    // gives each file's source log offset, the offset log each query
    // batch's end offset
    def logFiles(dir: String) = Files.list(Paths.get(dir)).iterator().asScala
      .toSeq.filter(_.getFileName.toString.matches("\\d+(\\.compact)?"))
      .map(p => p.getFileName.toString.takeWhile(_.isDigit).toLong ->
        new String(Files.readAllBytes(p), "UTF-8"))
    val fileBatch = Stats.fileBatches(
      logFiles(s"$ckpt/sources/0").flatMap(f => Stats.fileSourceEntries(f._2)),
      logFiles(s"$ckpt/offsets").flatMap { case (n, text) =>
        Stats.logOffset(text).map(n -> _) })
    val firstBatch = fileBatch(fileName(nWarm + 1))
    val progs = progress.asScala.toSeq
      .filter(p => p.batchId >= firstBatch && p.numInputRows > 0)
      .groupBy(_.batchId).map(_._2.last).toSeq.sortBy(_.batchId)
    def startMs(p: StreamingQueryProgress): Long =
      java.time.Instant.parse(p.timestamp).toEpochMilli
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.longValue / 1000.0).getOrElse(0.0)
    val endMs = progs.map(p =>
      p.batchId -> (startMs(p) + p.durationMs.get("triggerExecution").longValue)).toMap
    val fresh = Stats.freshness(arrivals.toMap, fileBatch, endMs)
    val unseen = nMeas - fresh.size
    ctx.attempted += nMeas
    if (unseen > 0) {
      ctx.failed += unseen
      ctx.failures += s"$unseen arrived files never committed"
    }
    val events = (nWarm + 1 until nFiles).map(g => perG.getOrElse(g, 0L)).sum
    ctx.committedEvents = events
    val wallS = (endMs.values.max - t0) / 1000.0
    ctx.metric("events_per_s", events / wallS, "1/s")
    ctx.metric("cpu_s_per_kevent", cpuWin / (events / 1000.0), "s")
    ctx.latency("commit", progs.map(dur(_, "triggerExecution")))
    ctx.latency("freshness", fresh)
    // a trigger's CPU: from the progress event before it to its own
    ctx.latency("commit_cpu", progs.flatMap(p => Option(progCpu.get(p.batchId - 1))
      .map(Cpu.seconds(_, progCpu.get(p.batchId)))))
    ctx.info("triggers") = progs.map(p =>
      s"[${p.batchId},${p.numInputRows},${dur(p, "triggerExecution")}]")
      .mkString("[", ",", "]")
    ctx.info("offered_events_per_s") = (perFile * 1000 / intervalMs).toString

    if (ctx.traced) {
      val tr = ctx.tracer.get
      // triggers that started before the tracer was installed have no
      // job records
      val seen = progs.filter(startMs(_) >= t0)
      seen.foreach { p =>
        val s = startMs(p) * 1000000L
        val span = Span(tr.nextId(), 0L, "commit", s,
          s + p.durationMs.get("triggerExecution").longValue * 1000000L, tr.runId)
        tr.add(span)
        // the stream thread's FS calls cannot be split per trigger: each
        // trigger gets the window's mean
        ctx.ops += OpRec(span, p.batchId, fsDelta / math.max(1, seen.size))
      }
      def med(k: String) = Stats.median(progs.map(dur(_, k)))
      ctx.lay("stream.trigger_s", med("triggerExecution"), "s")
      ctx.lay("stream.latest_offset_s", med("latestOffset"), "s")
      ctx.lay("stream.query_planning_s", med("queryPlanning"), "s")
      ctx.lay("stream.add_batch_s", med("addBatch"), "s")
      ctx.lay("stream.wal_commit_s", med("walCommit"), "s")
      ctx.lay("stream.commit_offsets_s", med("commitOffsets"), "s")
      ctx.lay("stream.rows_per_batch",
        Stats.median(progs.map(_.numInputRows.toDouble)), "count")
      ctx.lay("stream.dedup_state_rows", progress.asScala.toSeq.lastOption
        .flatMap(_.stateOperators.headOption).map(_.numRowsTotal.toDouble)
        .getOrElse(0.0), "count")
      val arrEv = arrivals.toSeq.map { case (f, due) =>
        due -> perG(f.drop(1).take(6).toInt) }
      val comEv = progs.map(p => endMs(p.batchId) -> p.numInputRows)
      ctx.lay("stream.backlog_max_events",
        Stats.maxBacklog(arrEv, comEv).toDouble, "count")
      ctx.lay("gen.late_p99_s", lateS.sorted.apply(
        math.min(lateS.size - 1, (lateS.size * 0.99).toInt)), "s")
    }

    reportReads(ctx, afterReads(ctx, state, lkeys))
    // one compaction, dropping tombstones older than the run's middle; the
    // oracle below then checks the compacted store
    val (_, compactS) = ctx.op("compact")(CdcPipeline.compact(spark, state, Cfg,
      Gen.IncrUs + (nFiles / 2) * groupUs, 2 * SeedBatch))
    if (ctx.traced) {
      ctx.lay("compact_s", compactS, "s")
      kernelCalls(ctx, keys)
    }
    // every file was delivered: the log is the snapshot plus the source dir
    val delivered = spark.read.schema(Gen.flatSchema).parquet(src).drop("ts")
    checkState(ctx, state, snap.drop("ts").unionByName(delivered), FlatCols)
  }

  // ---- CDC kernel, standalone ---------------------------------------------

  /** The CDC kernel's stages (`graft.cdc`) as standalone calls, traced
    * runs only, after the measured phase: a binary-Avro wire log of
    * `batches` batches (v1, then the nullable-column add v2 with a few
    * rows of the incompatible NOT NULL add v3, encoded with the Apache
    * Avro library) goes batch by batch through the registry gate, the
    * Avro decode of the compatible versions and latest-per-key.
    */
  def kernelCalls(ctx: Ctx, keys: Long): Unit = {
    val spark = ctx.spark
    // recorded apart from the workload's sizes, which the traced and
    // untraced records must share for the tracing overhead
    val batches = 3
    val perBatch = 20000
    ctx.info("kernel_sizes") = s"""{"batches":$batches,"events_per_batch":$perBatch}"""
    val wireDir = s"${ctx.work}/kernel/wire"
    Gen.encodeWire(Gen.wireLog(spark, ctx.seed, keys, batches, perBatch,
      0.05, 0.10, 500)).write.partitionBy("b").parquet(wireDir)
    val subject = "shop.orders"
    val decode = mutable.ArrayBuffer.empty[Double]
    val gate = mutable.ArrayBuffer.empty[Double]
    val latest = mutable.ArrayBuffer.empty[Double]
    (0 until batches).foreach { b =>
      val w = spark.read.parquet(s"$wireDir/b=$b")
      val versions = w.select("schema_version").distinct().collect()
        .map(_.getInt(0)).sorted
      val reg = new graft.cdc.SchemaRegistry()
      gate += ctx.op("cdc.gate")(versions.foreach(v =>
        reg.register(subject, Gen.rowSchema(v))))._2
      val decoded = versions.filter(_ < 3).map(v =>
        graft.cdc.EnvelopeCodec.decodeAvro(
          w.filter(col("schema_version") === v), Gen.rowSchema(v),
          passthrough = Seq("event_id")).withColumn("schema_version", lit(v)))
      decode += ctx.op("cdc.decode")(decoded.foreach(ctx.noop))._2
      val flat = graft.cdc.SchemaEvolution.normalizeHistory(decoded.toSeq)
        .select(col("key"), col("event_id"), col("ts_us"), col("op"),
          col("schema_version"), col("after.*"))
      latest += ctx.op("cdc.latest")(ctx.noop(graft.cdc.Materialize.latest(
        flat, Seq("key"), Seq(col("ts_us"), col("event_id")))))._2
    }
    ctx.lay("cdc.decode_s", Stats.median(decode.toSeq), "s")
    ctx.lay("cdc.gate_s", Stats.median(gate.toSeq), "s")
    ctx.lay("cdc.latest_s", Stats.median(latest.toSeq), "s")
  }
}
