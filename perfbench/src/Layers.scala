package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics every workload shares, derived from the traced
  * run's commit ops and the Spark/Hadoop records tied to them: the
  * commit path, executors, Catalyst and store I/O. Workload-specific
  * layers (streaming, CDC kernel, reads, index) are filled in by the
  * workloads; every metric the benchmark lists is present in every
  * traced record, 0 where a workload does not exercise the layer.
  */
object Layers {

  /** (unit) of every per-layer metric, in report order. */
  val All: Seq[(String, String)] = Seq(
    "stream.trigger_s" -> "s", "stream.latest_offset_s" -> "s",
    "stream.query_planning_s" -> "s", "stream.add_batch_s" -> "s",
    "stream.wal_commit_s" -> "s", "stream.commit_offsets_s" -> "s",
    "stream.rows_per_batch" -> "count", "stream.dedup_state_rows" -> "count",
    "stream.backlog_max_events" -> "count", "gen.late_p99_s" -> "s",
    "commit.jobs" -> "count", "commit.stages" -> "count",
    "commit.tasks" -> "count", "commit.driver_s" -> "s",
    "fs.bytes_written_per_event" -> "bytes", "fs.files_created_per_commit" -> "count",
    "fs.write_ops_per_commit" -> "count", "fs.read_ops_per_commit" -> "count",
    "store.files" -> "count",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s",
    "exec.run_s" -> "s", "exec.cpu_s" -> "s", "exec.gc_s" -> "s",
    "exec.util" -> "1", "exec.shuffle_write_bytes" -> "bytes",
    "exec.shuffle_read_bytes" -> "bytes", "exec.spill_bytes" -> "bytes",
    "exec.task_skew" -> "1",
    "cdc.decode_s" -> "s", "cdc.gate_s" -> "s", "cdc.latest_s" -> "s",
    "read.current_state_s" -> "s", "read.lookup_s" -> "s",
    "read.as_of_s" -> "s", "read.diff_s" -> "s", "read.fs_read_ops" -> "count",
    "read.bytes_read" -> "bytes", "compact_s" -> "s",
    "index.append_s" -> "s", "index.fold_s" -> "s", "index.folds" -> "count",
    "index.fold_bytes_rewritten" -> "bytes", "index.chain_len_p50" -> "count",
    "index.probe_s" -> "s",
    "commit.job_self_s" -> "s")

  private def med(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Fill the shared layers from the commit ops (listener bus drained). */
  def summarize(ctx: Ctx, tr: Tracer): Unit = {
    val all = ctx.ops.toSeq
    val commits = all.filter(_.span.name == "commit")
    def descendants(id: Long): Seq[OpRec] = {
      val kids = all.filter(_.span.parent == id)
      kids ++ kids.flatMap(k => descendants(k.span.id))
    }
    val per = commits.map { c =>
      val ops = c +: descendants(c.span.id)
      val jobs = ops.flatMap(o => tr.jobsOf(o.span, o.batch)).distinct
        .filter(_.endMs >= 0)
      val stages = jobs.flatMap(_.stages).distinct
        .flatMap(s => Option(tr.stageAgg.get(s)).filter(_.tasks > 0).map(s -> _))
      val wall = c.span.seconds
      val jobIv = jobs.map(j => (j.startMs / 1000.0, j.endMs / 1000.0))
      val lo = c.span.start / 1e9
      val hi = c.span.end / 1e9
      val covered = Stats.covered(jobIv, lo, hi)
      val runS = stages.map(_._2.runMs).sum / 1000.0
      val biggest = stages.sortBy(-_._2.runMs).headOption.map(_._2)
      val skew = biggest.map { a =>
        val ts = a.taskMs.map(_.toDouble).toSeq
        val m = Stats.median(ts)
        if (m > 0) ts.max / m else 1.0
      }.getOrElse(0.0)
      // self times: a commit's is its wall minus what its jobs cover
      // (commit.driver_s), a job's its wall minus what its stages cover
      val jobSelf = jobs.map { j =>
        val st = j.stages.flatMap(s => Option(tr.stageAgg.get(s)))
          .filter(_.completed > 0).map(a => (a.submitted / 1000.0, a.completed / 1000.0))
        (j.endMs - j.startMs) / 1000.0 -
          Stats.covered(st, j.startMs / 1000.0, j.endMs / 1000.0)
      }.sum
      val phases = tr.phases.asScala.toSeq.filter { case (_, s, _) =>
        s * 1000000L >= c.span.start && s * 1000000L < c.span.end }
      def phase(n: String) = phases.filter(_._1 == n)
        .map { case (_, s, e) => (e - s) / 1000.0 }.sum
      val largestJob = if (jobs.isEmpty) 0.0
        else jobs.map(j => (j.endMs - j.startMs) / 1000.0).max
      Map(
        "largest_job_share" -> largestJob / wall,
        "commit.jobs" -> jobs.size.toDouble,
        "commit.stages" -> stages.size.toDouble,
        "commit.tasks" -> stages.map(_._2.tasks).sum.toDouble,
        "commit.driver_s" -> (wall - covered),
        "commit.job_self_s" -> jobSelf,
        "exec.run_s" -> runS,
        "exec.cpu_s" -> stages.map(_._2.cpuNs).sum / 1e9,
        "exec.gc_s" -> stages.map(_._2.gcMs).sum / 1000.0,
        "exec.util" -> runS / (ctx.cpus * wall),
        "exec.shuffle_write_bytes" -> stages.map(_._2.shuffleWrite).sum.toDouble,
        "exec.shuffle_read_bytes" -> stages.map(_._2.shuffleRead).sum.toDouble,
        "exec.spill_bytes" -> stages.map(_._2.spill).sum.toDouble,
        "exec.task_skew" -> skew,
        "catalyst.analysis_s" -> phase("analysis"),
        "catalyst.optimization_s" -> phase("optimization"),
        "catalyst.planning_s" -> phase("planning"),
        "fs.write_ops_per_commit" -> c.fs.writeOps.toDouble,
        "fs.read_ops_per_commit" -> c.fs.readOps.toDouble,
        "fs.files_created_per_commit" -> c.fs.created.toDouble)
    }
    val units = All.toMap
    if (per.nonEmpty) per.head.keys.filter(units.contains).foreach { k =>
      ctx.lay(k, med(per.map(_(k))), units(k)) }
    // where a commit's time goes: its largest job's share of its wall,
    // and that share plus the commit's driver time
    if (per.nonEmpty) {
      ctx.info("commit_largest_job_share") = med(per.map(_("largest_job_share"))).toString
      ctx.info("commit_largest_job_plus_driver_share") = med(commits.zip(per)
        .map { case (c, m) => m("largest_job_share") + m("commit.driver_s") /
          c.span.seconds }).toString
    }
    val written = commits.map(_.fs.bytesWritten).sum.toDouble
    if (ctx.committedEvents > 0)
      ctx.lay("fs.bytes_written_per_event", written / ctx.committedEvents, "bytes")
    tr.materializeChildren(all.map(o => (o.span, o.batch)))
    All.foreach { case (k, u) => if (!ctx.layer.contains(k)) ctx.lay(k, 0.0, u) }
  }
}
