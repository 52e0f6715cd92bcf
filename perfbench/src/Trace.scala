package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: times are epoch nanoseconds, `parent` is 0 for a root. */
final case class Span(id: Long, parent: Long, name: String, start: Long,
                      end: Long, run: String) {
  def seconds: Double = (end - start) / 1e9
}

/** Local-filesystem counters: bytes from Hadoop's statistics for the
  * `file` scheme, operations and created files from [[CountingFs]]
  * (traced runs only). Executors run inside this JVM, so their I/O is
  * counted too.
  */
final case class FsStats(bytesRead: Long, bytesWritten: Long, readOps: Long,
                         writeOps: Long, created: Long) {
  def -(o: FsStats): FsStats = FsStats(bytesRead - o.bytesRead,
    bytesWritten - o.bytesWritten, readOps - o.readOps, writeOps - o.writeOps,
    created - o.created)
  def /(n: Long): FsStats = FsStats(bytesRead / n, bytesWritten / n,
    readOps / n, writeOps / n, created / n)
}

object FsStats {
  def now(): FsStats = {
    val st = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics
      .get("file")
    def get(k: String): Long =
      if (st == null) 0L else Option(st.getLong(k)).map(_.longValue).getOrElse(0L)
    FsStats(get("bytesRead"), get("bytesWritten"), CountingFs.reads.get,
      CountingFs.writes.get, CountingFs.created.get)
  }
}

/** Per-stage executor totals gathered from task-end events. */
final class StageAgg {
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
  var submitted = 0L
  var completed = 0L
}

/** A Spark job tied to the bench op (or streaming batch) that ran it. */
final class JobRec(val jobId: Int, val op: Long, val batch: Long,
                   val startMs: Long, val stages: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

/** The traced run's recorder. Spans live in memory and are written out
  * when the run ends. Bench ops are roots (or children of a streaming
  * trigger); Spark jobs and stages hang under the op whose thread ran
  * them — tied by the local property [[Tracer.OpKey]], or by Spark's
  * own batch-id property for streaming jobs — and Catalyst phases hang
  * under the op whose wall they fall in.
  */
final class Tracer(val runId: String) {
  import Tracer._

  private val ids = new AtomicLong(0)
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def wallNs(nano: Long): Long = anchorMs * 1000000L + (nano - anchorNs)

  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stageAgg = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
  /** (phase, start ms, end ms) of every finished query execution. */
  val phases = new ConcurrentLinkedQueue[(String, Long, Long)]()

  def nextId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = spans.add(s)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val op = p.flatMap(x => Option(x.getProperty(OpKey))).map(_.toLong)
        .getOrElse(0L)
      val batch = p.flatMap(x => Option(x.getProperty(BatchKey)))
        .map(_.toLong).getOrElse(-1L)
      jobs.put(e.jobId, new JobRec(e.jobId, op, batch, e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val a = stageAgg.computeIfAbsent(e.stageInfo.stageId, _ => new StageAgg)
      a.synchronized {
        a.submitted = e.stageInfo.submissionTime.getOrElse(0L)
        a.completed = e.stageInfo.completionTime.getOrElse(0L)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val a = stageAgg.computeIfAbsent(e.stageId, _ => new StageAgg)
        a.synchronized {
          a.tasks += 1
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.taskMs += m.executorRunTime
        }
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (name, ph) =>
        phases.add((name, ph.startTimeMs, ph.endTimeMs))
      }
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  def uninstall(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  /** Jobs of one op: tied by the op property, or — for a streaming
    * trigger — by its batch id.
    */
  def jobsOf(op: Span, batch: Long = -1L): Seq[JobRec] =
    jobs.values.asScala.toSeq.filter(j =>
      j.op == op.id || (batch >= 0 && j.batch == batch && j.op == 0L))

  /** Turn the job/stage/phase records into child spans of their ops,
    * once the run is over and the listener bus has drained.
    */
  def materializeChildren(ops: Seq[(Span, Long)]): Unit =
    ops.foreach { case (op, batch) =>
      jobsOf(op, batch).foreach { j =>
        if (j.endMs >= 0) {
          val jid = nextId()
          add(Span(jid, op.id, s"job", j.startMs * 1000000L,
            j.endMs * 1000000L, runId))
          j.stages.foreach { s =>
            Option(stageAgg.get(s)).filter(_.completed > 0).foreach { a =>
              add(Span(nextId(), jid, "stage", a.submitted * 1000000L,
                a.completed * 1000000L, runId))
            }
          }
        }
      }
      phases.asScala.foreach { case (name, s, e) =>
        val sNs = s * 1000000L
        if (sNs >= op.start && sNs < op.end)
          add(Span(nextId(), op.id, s"catalyst.$name", sNs, e * 1000000L,
            runId))
      }
    }

  /** Spans as JSON lines. */
  def dump(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.asScala.toSeq.sortBy(_.start).foreach { s =>
      sb.append(s"""{"run":"${s.run}","id":${s.id},"parent":${s.parent},""" +
        s""""name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}""")
      sb.append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Tracer {
  /** Local property naming the bench op a Spark job belongs to. */
  val OpKey = "perfbench.op"
  /** Spark's own property on every job a streaming micro-batch runs. */
  val BatchKey = "streaming.sql.batchId"
}
