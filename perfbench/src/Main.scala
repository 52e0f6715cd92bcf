package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one bench op recorded: its span, the streaming batch it stands
  * for (-1 for a direct call) and its Hadoop FS counters.
  */
final case class OpRec(span: Span, batch: Long, fs: FsStats)

/** Run state shared by the workloads: the session, the optional tracer
  * and the metric sinks.
  */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long,
                val seconds: Double, val cpus: Int,
                val tracer: Option[Tracer]) {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String]
  val ops = mutable.ArrayBuffer.empty[OpRec]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Set when the set-up ends: the first timed op starts after it. */
  var setupS = Double.NaN
  /** Spans are kept from the end of set-up on. */
  private var recording = false
  /** Events (or documents) the timed commits took in. */
  var committedEvents = 0L
  /** CPU seconds (`Cpu`) the last op took. */
  var lastCpuS = 0.0

  private val stack = mutable.Stack.empty[Long]
  private val sizes = mutable.LinkedHashMap.empty[String, Double]

  /** A workload size, recorded in the record. */
  def sz(name: String, v: Double): Double = {
    sizes(name) = v
    info("sizes") = sizes.map { case (k, x) => s""""$k":$x""" }
      .mkString("{", ",", "}")
    v
  }

  def traced: Boolean = tracer.nonEmpty

  /** Run one bench op and return its result and wall seconds. Traced,
    * it also becomes a span, tags the Spark jobs it starts and records
    * the FS counters it moved. A throw counts as a failed op.
    */
  def op[T](name: String)(f: => T): (T, Double) = {
    attempted += 1
    val sc = spark.sparkContext
    val t = tracer.filter(_ => recording)
    val id = t.map(_.nextId()).getOrElse(0L)
    val parent = stack.headOption.getOrElse(0L)
    val prevProp = sc.getLocalProperty(Tracer.OpKey)
    val fs0 = if (t.nonEmpty) FsStats.now() else null
    if (t.nonEmpty) { sc.setLocalProperty(Tracer.OpKey, id.toString); stack.push(id) }
    val c0 = Cpu.snapshot()
    val t0 = System.nanoTime()
    try {
      val r = f
      val t1 = System.nanoTime()
      lastCpuS = Cpu.seconds(c0, Cpu.snapshot())
      t.foreach { tr =>
        val span = Span(id, parent, name, tr.wallNs(t0), tr.wallNs(t1), tr.runId)
        tr.add(span)
        ops += OpRec(span, -1L, FsStats.now() - fs0)
      }
      (r, (t1 - t0) / 1e9)
    } catch {
      case e: Throwable =>
        failed += 1
        failures += s"$name: $e"
        throw e
    } finally {
      if (t.nonEmpty) { stack.pop(); sc.setLocalProperty(Tracer.OpKey, prevProp) }
    }
  }

  /** Record an output check outside the timed region. */
  def check(name: String)(ok: => Boolean): Unit = {
    attempted += 1
    val pass = try ok catch { case e: Throwable =>
      failures += s"check $name threw: $e"; false }
    if (!pass) { failed += 1; failures += s"check $name failed" }
    System.err.println(s"[perfbench] check $name: ${if (pass) "ok" else "FAILED"}")
  }

  def metric(name: String, v: Double, unit: String): Unit = e2e(name) = (v, unit)
  def lay(name: String, v: Double, unit: String): Unit = layer(name) = (v, unit)

  /** Median and tail of a sample set as two e2e metrics; the tail's
    * percentile goes into the record.
    */
  def latency(prefix: String, xs: Seq[Double]): Unit = {
    val tl = Stats.tail(xs)
    metric(s"${prefix}_p50_s", Stats.median(xs), "s")
    metric(s"${prefix}_tail_s", tl.value, "s")
    info(s"${prefix}_tail") =
      f"""{"pct":${tl.pct}%.2f,"beyond":${tl.beyond},"n":${tl.n}}"""
    info(s"${prefix}_samples_s") = xs.map(x => f"$x%.4f").mkString("[", ",", "]")
  }

  private def sinceJvmStart: Double = (System.currentTimeMillis() -
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  /** A set-up milestone on stderr, in seconds since JVM start. */
  def note(what: String): Unit =
    System.err.println(f"[perfbench] $sinceJvmStart%.2f s: $what")

  /** End of set-up: records `setup_s` (JVM start to here) and, in a
    * traced run, starts keeping op spans.
    */
  def markSetupDone(): Unit = {
    setupS = sinceJvmStart
    note("set-up done")
    recording = true
  }

  /** Materialize a frame through the noop sink (full row production). */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

/** CPU time of the JVM's Java threads: the engine's driver, task,
  * streaming and listener threads, and the benchmark's own. The JIT
  * compiler and GC threads are not Java threads and are left out, so a
  * compilation burst does not land on whichever op it overlaps; time the
  * hypervisor takes from the machine's virtual CPUs (steal) is not in it
  * either.
  */
object Cpu {
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /** CPU ns of every live Java thread, by thread id. */
  def snapshot(): Map[Long, Long] =
    threads.getAllThreadIds.iterator.map(id => id -> threads.getThreadCpuTime(id))
      .filter(_._2 >= 0).toMap

  /** CPU seconds the Java threads spent between two snapshots. Threads
    * that started in between count in full; threads that ended in
    * between are lost, with what they had spent.
    */
  def seconds(from: Map[Long, Long], to: Map[Long, Long]): Double =
    to.iterator.map { case (id, ns) => ns - from.getOrElse(id, 0L) }
      .filter(_ > 0).sum / 1e9
}

object Main {

  val Workloads: Map[String, Ctx => Unit] = Map(
    "cdc_trickle" -> CdcWorkloads.trickle,
    "index_stream" -> IndexWorkload.run)

  private def loadAvg(): Double =
    scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble

  private def peakRss(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble * 1024
  }

  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ")

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    val cpus = Runtime.getRuntime.availableProcessors()
    val fn = Workloads.getOrElse(workload,
      sys.error(s"unknown workload $workload; one of " +
        Workloads.keys.toSeq.sorted.mkString(", ")))
    val load0 = loadAvg()

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // traced runs count FS calls through a subclass of the same FS
      .config("spark.hadoop.fs.file.impl",
        if (trace) "perfbench.CountingLocalFileSystem"
        else "graft.sources.NioLocalFileSystem")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing." +
          "FileSystemBasedCheckpointFileManager")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val runId = f"$workload-s$seed-${System.currentTimeMillis()}%d"
    val tracer = if (trace) Some(new Tracer(runId)) else None
    // listeners go in before any query starts: a streaming query's session
    // copies the listeners it will report to when it starts
    tracer.foreach(_.install(spark))
    val ctx = new Ctx(spark, work, seed, seconds, cpus, tracer)
    ctx.note("session built")

    var crashed: Option[Throwable] = None
    try fn(ctx) catch {
      case e: Throwable =>
        crashed = Some(e)
        e.printStackTrace()
        if (ctx.failures.isEmpty) { ctx.attempted += 1; ctx.failed += 1 }
        ctx.failures += s"run aborted: $e"
    }
    ctx.note("workload and checks done")
    ctx.metric("peak_rss_bytes", peakRss(), "bytes")
    ctx.metric("setup_s", ctx.setupS, "s")
    tracer.foreach { tr =>
      org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
      tr.uninstall(spark)
      Layers.summarize(ctx, tr)
      tr.dump(java.nio.file.Paths.get(work, "spans.jsonl"))
    }
    val load1 = loadAvg()
    val correct = crashed.isEmpty && ctx.failed == 0
    ctx.metric("failed_ops_frac",
      ctx.failed.toDouble / math.max(ctx.attempted, 1L), "1")

    def metricsJson(m: collection.Map[String, (Double, String)]): String =
      m.map { case (k, (v, u)) =>
        s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    val contract = Seq(
      s""""cpus":$cpus""",
      s""""default_parallelism":${spark.sparkContext.defaultParallelism}""",
      s""""shuffle_partitions":"${spark.conf.get("spark.sql.shuffle.partitions")}"""",
      s""""fs_impl":"${spark.sparkContext.hadoopConfiguration.get("fs.file.impl")}"""",
      s""""checkpoint_manager":"${esc(spark.conf.get(
        "spark.sql.streaming.checkpointFileManagerClass"))}"""",
      s""""spark_version":"${spark.version}"""",
      s""""jvm_version":"${esc(System.getProperty("java.vm.version"))}"""",
      s""""scala_version":"${scala.util.Properties.versionNumberString}"""")
      .mkString("{", ",", "}")
    val record = Seq(
      s""""workload":"$workload"""", s""""seed":$seed""",
      s""""seconds":${num(seconds)}""", s""""trace":${if (trace) 1 else 0}""",
      s""""run_id":"$runId"""",
      s""""contract":$contract""",
      s""""load_avg_1m":{"start":$load0,"end":$load1}""",
      s""""info":${ctx.info.map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}")}""",
      s""""end_to_end":${metricsJson(ctx.e2e)}""",
      s""""per_layer":${metricsJson(ctx.layer)}""",
      s""""correct":$correct""", s""""attempted":${ctx.attempted}""",
      s""""failed":${ctx.failed}""",
      s""""failures":${ctx.failures.map(f => "\"" + esc(f) + "\"")
        .mkString("[", ",", "]")}""").mkString("{", ",", "}")
    println("RECORD " + record)
    spark.stop()
    System.exit(if (correct) 0 else 1)
  }
}
