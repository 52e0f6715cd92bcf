package graft.sim

import java.util.Properties

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.obs.Trace
import graft.ops.SimilarityQueries
import graft.sources.SegmentedIndex

/** The IVF families' Spark jobs: a chain is read as one scan with no
  * metadata job (no footer inference, no listing job), so the probe
  * runs the same number of jobs at any chain length, and so do
  * describe and compaction; every job of build, append, compact and
  * probe carries its op's name as its call site.
  */
class IvfIndexJobsSpec extends SparkSpec {

  /** One IVF family's public verbs, and the call-site names of its
    * build, append and probe.
    */
  private case class Family(name: String,
                            build: (DataFrame, String) => Unit,
                            append: (String, DataFrame) => Unit,
                            probe: (String, DataFrame) => DataFrame,
                            ops: (String, String, String))

  private val families = Seq(
    Family("raw", Similarity.buildIvfIndex(_, _, nlist = 16),
      Similarity.appendIvfIndex(_, _),
      Similarity.ivfProbeIndexed(_, _, 5, nprobe = 4),
      ("buildIvfIndex", "appendIvfIndex", "ivfProbeIndexed")),
    Family("pq", Similarity.buildIvfPqIndex(_, _, nlist = 16),
      Similarity.appendIvfPqIndex(_, _),
      Similarity.ivfPqProbeIndexed(_, _, 5, nprobe = 4),
      ("buildIvfPqIndex", "appendIvfPqIndex", "ivfPqProbeIndexed")),
    Family("sq8", Similarity.buildIvfSq8Index(_, _, nlist = 16),
      Similarity.appendIvfSq8Index(_, _),
      Similarity.ivfSq8ProbeIndexed(_, _, 5, nprobe = 4),
      ("buildIvfSq8Index", "appendIvfSq8Index", "ivfSq8ProbeIndexed")))

  // resolved once, outside every listened region: building the corpus
  // DataFrame infers its schema in a job of the spec's own
  private lazy val vecs = SimilarityQueries.doubleVecs(spark, sf)
  private lazy val queries = vecs.filter(col("vec_id") < 8)

  private def fresh(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString + "/idx"

  /** A chain of `n` segments: a base build, then n − 1 appends, split
    * by vec_id modulo n.
    */
  private def chain(f: Family, n: Int): String = {
    val dir = fresh(s"ivfjobs_${f.name}$n")
    def slice(i: Int) = vecs.filter(pmod(col("vec_id"), lit(n)) === i)
    f.build(slice(0), dir)
    (1 until n).foreach(i => f.append(dir, slice(i)))
    assert(segs(dir).size === n)
    dir
  }

  private def segs(dir: String): Seq[String] =
    SegmentedIndex.segments(spark, dir,
      SegmentedIndex.currentVersion(spark, dir))

  /** (local properties, first stage name) of every job `body` starts. */
  private def jobsOf(body: => Unit): Seq[(Properties, String)] =
    Trace.of(spark)(body).jobs.map(j => (j.properties, j.site))

  private def sites(jobs: Seq[(Properties, String)]) =
    jobs.map(_._2).mkString("\n")

  families.foreach { f =>
    test(s"${f.name}: the probe runs as many jobs at chain length 4 as " +
         "at 1") {
      val one = chain(f, 1)
      val four = chain(f, 4)
      val j1 = jobsOf(f.probe(one, queries).collect(): Unit)
      val j4 = jobsOf(f.probe(four, queries).collect(): Unit)
      assert(j1.size === j4.size,
        s"1 segment:\n${sites(j1)}\n4 segments:\n${sites(j4)}")
    }

    test(s"${f.name}: describe and compaction run as many jobs at chain " +
         "length 4 as at 2") {
      val two = chain(f, 2)
      val four = chain(f, 4)
      val d2 = jobsOf(Similarity.describeIvfIndex(spark, two).collect(): Unit)
      val d4 = jobsOf(Similarity.describeIvfIndex(spark, four).collect(): Unit)
      assert(d2.size === d4.size,
        s"describe, 2 segments:\n${sites(d2)}\n4 segments:\n${sites(d4)}")
      val c2 = jobsOf(Similarity.compactIvfIndex(spark, two))
      val c4 = jobsOf(Similarity.compactIvfIndex(spark, four))
      assert(segs(two).size === 1 && segs(four).size === 1)
      assert(c2.size === c4.size,
        s"compact, 2 segments:\n${sites(c2)}\n4 segments:\n${sites(c4)}")
    }

    test(s"${f.name}: no op runs a metadata job (schema inference or " +
         "listing): every job belongs to a SQL execution") {
      val dir = fresh(s"ivfjobs_${f.name}_meta")
      val base = vecs.filter(pmod(col("vec_id"), lit(3)) =!= 0)
      val delta = vecs.filter(pmod(col("vec_id"), lit(3)) === 0)
      val jobs = jobsOf {
        f.build(base, dir)
        f.append(dir, delta)
        f.probe(dir, queries).collect()
        Similarity.describeIvfIndex(spark, dir).collect()
        Similarity.compactIvfIndex(spark, dir)
        f.probe(dir, queries).collect(): Unit
      }
      assert(jobs.nonEmpty)
      val bare = jobs.filter(_._1.getProperty("spark.sql.execution.id") == null)
      assert(bare.isEmpty,
        s"${bare.size} of ${jobs.size} jobs ran outside a SQL execution:\n" +
          sites(bare))
    }

    test(s"${f.name}: every job of build, append, compact and probe " +
         "carries its op's call site, and the caller's is restored") {
      val dir = fresh(s"ivfjobs_${f.name}_sites")
      val base = vecs.filter(pmod(col("vec_id"), lit(3)) =!= 0)
      val delta = vecs.filter(pmod(col("vec_id"), lit(3)) === 0)
      val sc = spark.sparkContext
      def named(site: String, jobs: Seq[(Properties, String)]): Unit = {
        assert(jobs.nonEmpty, site)
        val other = jobs.filterNot(j =>
          j._1.getProperty("callSite.short") == site && j._2 == site)
        assert(other.isEmpty,
          s"${other.size} of ${jobs.size} jobs not named $site:\n" +
            sites(other))
      }
      val (buildOp, appendOp, probeOp) = f.ops
      sc.setCallSite("spec.caller")
      try {
        named(buildOp, jobsOf(f.build(base, dir)))
        named(appendOp, jobsOf(f.append(dir, delta)))
        named(probeOp, jobsOf(f.probe(dir, queries): Unit))
        named("compactIvfIndex",
          jobsOf(Similarity.compactIvfIndex(spark, dir)))
        assert(sc.getLocalProperty("callSite.short") === "spec.caller")
      } finally sc.clearCallSite()
      assert(segs(dir).size === 1)
    }
  }
}
