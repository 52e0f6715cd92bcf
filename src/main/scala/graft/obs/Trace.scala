package graft.obs

import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graft.ListenerBus
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.SegmentedIndex

/** What ran inside one traced region ([[Trace.of]]).
  *
  * @param seconds wall time of the region's body
  * @param jobs    every Spark job that started in the region, from any
  *                thread, in start order
  * @param stages  every stage that ran, in creation order; each
  *                `StageInfo.taskMetrics` holds its tasks' summed
  *                executor run and CPU time, shuffle bytes and spill
  * @param queries every SQL execution of the session, with its
  *                `tracker` phases and executed plan
  * @param phases  the driver-side [[Trace.phase]]s the region's thread
  *                ran, in end order
  */
final case class Trace(seconds: Double, jobs: Seq[Trace.Job],
                       stages: Seq[StageInfo], queries: Seq[QueryExecution],
                       phases: Seq[Trace.Phase]) {

  /** Seconds per phase name, summed over the region's outermost
    * phases only, so the values sum to at most [[seconds]].
    */
  def phaseSeconds: Map[String, Double] =
    phases.filter(_.depth == 0).groupMapReduce(_.name)(_.seconds)(_ + _)
}

/** The one instrumentation path: a region is traced by one
  * `SparkListener` and one `QueryExecutionListener`, installed for the
  * region alone and closed by a barrier on the listener bus, never by
  * a sleep.
  */
object Trace {

  /** A Spark job: its local properties, its first stage's name (the
    * call site of the code that started it) and its start and end
    * times in epoch ms (`endMs` is -1 if it had not ended).
    */
  final case class Job(id: Int, properties: Properties, site: String,
                       startMs: Long, endMs: Long)

  /** A driver-side phase: `depth` counts the phases it ran inside,
    * from the region's start; times are `System.nanoTime`.
    */
  final case class Phase(name: String, depth: Int, startNs: Long,
                         endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  /** Runs `body` under a trace and returns what ran. Work posted
    * before the call is drained first, the async version vacuum
    * included, so none of it is counted; the listeners come off also
    * when `body` throws. `onPhase` sees each phase as it ends, and may
    * throw to abort `body` right after that phase.
    */
  def of(spark: SparkSession, onPhase: Phase => Unit = _ => ())(
      body: => Unit): Trace = {
    SegmentedIndex.awaitGc()
    ListenerBus.drain(spark)
    val rec = new Recorder(onPhase, open.get.depth)
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec.queries)
    open.get.traces ::= rec
    active.incrementAndGet()
    try {
      val t0 = System.nanoTime()
      body
      val seconds = (System.nanoTime() - t0) / 1e9
      ListenerBus.drain(spark)
      rec.result(seconds)
    } finally {
      active.decrementAndGet()
      open.get.traces = open.get.traces.filterNot(_ eq rec)
      spark.sparkContext.removeSparkListener(rec)
      spark.listenerManager.unregister(rec.queries)
    }
  }

  /** Times `body` as the driver-side phase `name` into every trace open
    * on this thread. With none open anywhere it costs one volatile
    * read.
    */
  def phase[T](name: String)(body: => T): T =
    if (active.get == 0) body
    else {
      val o = open.get
      if (o.traces.isEmpty) body
      else {
        val t0 = System.nanoTime()
        o.depth += 1
        val r = try body finally o.depth -= 1
        val t1 = System.nanoTime()
        o.traces.foreach(t => t.phase(Phase(name, o.depth - t.depth, t0, t1)))
        r
      }
    }

  /** The traces open on one thread, innermost first, and the phase
    * depth the thread is at.
    */
  private final class Open {
    var traces: List[Recorder] = Nil
    var depth = 0
  }

  private val open = ThreadLocal.withInitial[Open](() => new Open)

  /** Traces open in the JVM: zero keeps [[phase]] to one read. */
  private val active = new AtomicInteger

  private final class Recorder(onPhase: Phase => Unit, val depth: Int)
      extends SparkListener {
    private val jobs = new ConcurrentHashMap[Int, Job]()
    private val stages = new ConcurrentHashMap[Int, StageInfo]()
    private val executions = new ConcurrentLinkedQueue[QueryExecution]()
    private val phases = new ConcurrentLinkedQueue[Phase]()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.put(e.jobId, Job(e.jobId, e.properties,
        e.stageInfos.headOption.map(_.name).getOrElse(""), e.time, -1L))

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.computeIfPresent(e.jobId, (_, j) => j.copy(endMs = e.time))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.put(e.stageInfo.stageId, e.stageInfo)

    val queries: QueryExecutionListener = new QueryExecutionListener {
      def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        executions.add(qe)
      def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit =
        executions.add(qe)
    }

    def phase(p: Phase): Unit = {
      phases.add(p)
      onPhase(p)
    }

    def result(seconds: Double): Trace = Trace(seconds,
      jobs.values.asScala.toSeq.sortBy(_.id),
      stages.values.asScala.toSeq.sortBy(_.stageId),
      executions.asScala.toSeq, phases.asScala.toSeq)
  }
}
