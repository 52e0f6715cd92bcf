package graft.obs

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, CyclicBarrier, Executors}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.graft.ListenerBus

import graft.SparkSpec
import graft.sources.{NioLocalFileSystem, PointerFile, SegmentedIndex}

/** [[Trace]]: a region counts its own jobs, stages, SQL executions and
  * driver phases, and nothing from before it.
  */
class TraceSpec extends SparkSpec {

  private def oneJob(): Unit =
    spark.sparkContext.parallelize(1 to 4, 2).count(): Unit

  test("only the body's jobs are counted, the ones pool threads start " +
       "under an op included") {
    oneJob()
    val t = Trace.of(spark) {
      SegmentedIndex.asOp(spark, "spec.op") {
        oneJob()
        // created inside the op, so its threads inherit the op's
        // local properties
        val pool = Executors.newFixedThreadPool(2)
        try Seq.fill(2)(pool.submit((() => oneJob()): Runnable))
          .foreach(_.get())
        finally pool.shutdown()
      }
    }
    oneJob()
    assert(t.jobs.map(_.site) === Seq.fill(3)("spec.op"))
    assert(t.jobs.forall(j => j.startMs <= j.endMs))
    assert(t.stages.map(_.numTasks) === Seq(2, 2, 2))
    assert(t.queries.isEmpty)
  }

  test("SQL executions carry their tracker phases and executed plan; " +
       "stages their shuffle bytes") {
    val t = Trace.of(spark) {
      spark.range(1000).repartition(4).selectExpr("sum(id)").collect(): Unit
    }
    assert(t.queries.size === 1)
    val qe = t.queries.head
    assert(Set("analysis", "optimization", "planning")
      .subsetOf(qe.tracker.phases.keySet))
    assert(qe.executedPlan.toString.contains("Exchange"))
    assert(t.stages.map(_.taskMetrics.shuffleWriteMetrics.bytesWritten)
      .sum > 0)
  }

  test("the async version vacuum is drained before the region, so none " +
       "of its deletes land in it") {
    val base = new Path(Files.createTempDirectory("tracegc").toString)
    val local = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gate = new CountDownLatch(1)
    @volatile var deletedAt = 0L
    val gated = new NioLocalFileSystem {
      override def delete(p: Path, recursive: Boolean): Boolean = {
        gate.await()
        try super.delete(p, recursive) finally deletedAt = System.nanoTime()
      }
    }
    gated.initialize(local.getUri, spark.sparkContext.hadoopConfiguration)
    Seq("v-1", "v-2").foreach(v =>
      PointerFile.commitVersion(local, base, v, keep = 1))
    SegmentedIndex.awaitGc()
    // dooms v-2; its delete waits at the gate on the vacuum thread
    PointerFile.commitVersion(gated, base, "v-3", keep = 1)
    @volatile var bodyAt = 0L
    val caller = Thread.currentThread()
    // opens the gate once the caller blocks (on the vacuum, if Trace
    // waits for it) or once the body has started
    val opener = new Thread(() => {
      while (caller.getState != Thread.State.WAITING && bodyAt == 0L)
        Thread.onSpinWait()
      gate.countDown()
    })
    opener.start()
    Trace.of(spark) { bodyAt = System.nanoTime() }
    opener.join()
    SegmentedIndex.awaitGc()
    assert(deletedAt > 0L && deletedAt <= bodyAt)
    assert(!local.exists(new Path(base, "v-2")))
  }

  test("phases nest, are recorded into every open trace, and sum to " +
       "at most the region's wall time") {
    assert(Trace.phase("untraced")(7) === 7)
    var inner: Trace = null
    val t = Trace.of(spark) {
      Trace.phase("outer") {
        Trace.phase("inner")(())
        inner = Trace.of(spark)(Trace.phase("nested")(()))
      }
      assert(Trace.phase("second")(42) === 42)
    }
    assert(t.phases.map(p => (p.name, p.depth)) ===
      Seq(("inner", 1), ("nested", 1), ("outer", 0), ("second", 0)))
    assert(inner.phases.map(p => (p.name, p.depth)) === Seq(("nested", 0)))
    val outer = t.phases.find(_.name == "outer").get
    assert(t.phases.filter(_.depth == 1).forall(p =>
      outer.startNs <= p.startNs && p.endNs <= outer.endNs))
    assert(t.phaseSeconds.keySet === Set("outer", "second"))
    assert(t.phaseSeconds.values.sum <= t.seconds)
  }

  test("two concurrent traces do not see each other's phases") {
    val both = new CyclicBarrier(2)
    val traces = new Array[Trace](2)
    val threads = Seq("a", "b").zipWithIndex.map { case (name, i) =>
      new Thread(() => traces(i) = Trace.of(spark) {
        both.await()
        Trace.phase(name)(())
        both.await()
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(traces.map(_.phases.map(_.name)).toSeq === Seq(Seq("a"), Seq("b")))
  }

  test("a throwing body still takes both listeners off") {
    val before = ListenerBus.installed(spark)
    val e = intercept[IllegalStateException](Trace.of(spark) {
      assert(ListenerBus.installed(spark) === before + 2)
      throw new IllegalStateException("boom")
    })
    assert(e.getMessage === "boom")
    assert(ListenerBus.installed(spark) === before)
  }
}
