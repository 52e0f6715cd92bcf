package graft.sim

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec
import graft.ops.SimilarityQueries
import graft.sources.SegmentedIndex

/** The IVF chain read, over chains of 1-5 segments per family whose
  * appends land in a subset of the cells, so a probed cell is absent
  * from some segments (and, where the chain drops a whole cell, from
  * all of them). The probe equals a one-segment build over the union
  * with the same trained state, bit for bit, before and after
  * compaction; describe's per-(segment, cell) counts are the direct
  * counts; appends with INT ids are cast losslessly into the chain's
  * BIGINT schema, and an append that cannot be is refused with the
  * typed error and commits nothing.
  */
class IvfChainPropertySpec extends SparkSpec {

  private case class Family(name: String,
                            cells: Similarity.Trained => DataFrame => DataFrame,
                            books: Boolean,
                            append: (String, DataFrame) => Unit,
                            probe: String => DataFrame)

  private val K = 5
  private val NProbe = 6
  private val Nlist = 16

  private val families = Seq(
    Family("raw", Similarity.rawCells("vec_id", "embedding"), false,
      Similarity.appendIvfIndex(_, _),
      Similarity.ivfProbeIndexed(_, queries, K, NProbe)),
    Family("pq", Similarity.pqCells("vec_id", "embedding"), true,
      Similarity.appendIvfPqIndex(_, _),
      Similarity.ivfPqProbeIndexed(_, queries, K, NProbe)),
    Family("sq8", Similarity.sq8Cells("vec_id", "embedding"), false,
      Similarity.appendIvfSq8Index(_, _),
      Similarity.ivfSq8ProbeIndexed(_, queries, K, NProbe)))

  private lazy val vecs =
    SimilarityQueries.doubleVecs(spark, sf).select("vec_id", "embedding")
  private lazy val queries = vecs.filter(col("vec_id") < 8)

  /** Centroids and codebooks trained once on the whole corpus. */
  private lazy val trained = Similarity.Trained(
    Similarity.trainCentroids(vecs, Nlist, 2000, 4),
    Some(Similarity.trainPqBooks(vecs)))

  private def state(f: Family) =
    if (f.books) trained else trained.copy(books = None)

  private def fresh(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString + "/idx"

  /** Every vector's cell under the trained centroids, from the cells of
    * a one-segment raw index over the corpus.
    */
  private lazy val cellOf: Map[Long, Int] = {
    val dir = fresh("ivfchainlayout")
    Similarity.buildIvf(vecs, dir, "spec")(state(families.head))(
      families.head.cells)
    spark.read.parquet(s"$dir/${Similarity.indexVersion(spark, dir)}/cells")
      .select("vec_id", "centroid_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
  }

  /** The cell of query 0: probed by the queries, so dropping it leaves
    * a probed cell absent from every segment.
    */
  private lazy val queryCell = cellOf(0L)

  private def rows(ids: Iterable[Long]): DataFrame =
    vecs.filter(col("vec_id").isin(ids.toSeq: _*))

  private def probe(f: Family, dir: String): Set[Row] =
    f.probe(dir).collect().toSet

  /** The probe of a one-segment build over the union, per family and
    * dropped cell.
    */
  private val refs =
    scala.collection.mutable.Map.empty[(String, Option[Int]), Set[Row]]

  private def reference(f: Family, drop: Option[Int]): Set[Row] =
    refs.getOrElseUpdate((f.name, drop), {
      val dir = fresh(s"ivfchainref_${f.name}")
      Similarity.buildIvf(rows(cellOf.keys.filterNot(id =>
        drop.contains(cellOf(id)))), dir, "spec")(state(f))(f.cells)
      probe(f, dir)
    })

  private def versionDirs(dir: String): Set[String] = {
    SegmentedIndex.awaitGc()
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .filter(_.isDirectory).map(_.getPath.getName).toSet
  }

  /** Builds the chain — segment i > 0 takes the vectors with
    * vec_id mod n = i whose cell is in `cells(i - 1)`, the base the
    * rest, none of cell `drop` — and checks probe, describe,
    * compaction and a refused append.
    */
  private def check(f: Family, n: Int, cells: Seq[Set[Int]],
                    drop: Option[Int], widen: Boolean): Boolean = {
    val what = s"${f.name} n=$n cells=$cells drop=$drop widen=$widen"
    val ids = cellOf.keys.filterNot(id => drop.contains(cellOf(id)))
    def seg(id: Long): Int = {
      val i = (id % n).toInt
      if (i > 0 && cells(i - 1)(cellOf(id))) i else 0
    }
    val slices = (0 until n).map(i => ids.filter(seg(_) == i).toSeq)
      .zipWithIndex.filter { case (s, i) => i == 0 || s.nonEmpty }.map(_._1)
    val dir = fresh(s"ivfchain_${f.name}")
    Similarity.buildIvf(rows(slices.head), dir, "spec")(state(f))(f.cells)
    slices.tail.foreach { s =>
      f.append(dir,
        if (widen) rows(s).select(col("vec_id").cast("int"), col("embedding"))
        else rows(s))
    }
    val ver = Similarity.indexVersion(spark, dir)
    assert(Similarity.indexSegments(spark, dir, ver).size === slices.size,
      what)

    val ref = reference(f, drop)
    assert(ref.nonEmpty, what)
    assert(probe(f, dir) === ref, s"chain probe, $what")

    val described = Similarity.describeIvfIndex(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val direct = slices.zipWithIndex.flatMap { case (s, i) =>
      s.groupBy(cellOf).map { case (c, m) => (i, c) -> m.size.toLong }
    }.toMap
    assert(described === direct, s"describe, $what")

    Similarity.compactIvfIndex(spark, dir)
    val folded = Similarity.indexVersion(spark, dir)
    assert(Similarity.indexSegments(spark, dir, folded).size === 1, what)
    assert(probe(f, dir) === ref, s"compacted probe, $what")

    val before = versionDirs(dir)
    val e = intercept[Similarity.CellSchemaMismatch] {
      f.append(dir, rows(slices.head.take(5))
        .select(col("vec_id").cast("string"), col("embedding")))
    }
    assert(e.getMessage.contains("losslessly"), e.getMessage)
    assert(Similarity.indexVersion(spark, dir) === folded, what)
    assert(versionDirs(dir) === before, s"refused append wrote, $what")
    true
  }

  test("a fixed chain per family: 4 segments, a probed cell dropped from " +
       "all of them, widened appends") {
    assert(cellOf.size === vecs.count())
    families.foreach(f => check(f, 4,
      Seq((0 until Nlist).toSet - queryCell, Set(queryCell, 1, 2),
        Set(3, 5, 7)), Some(queryCell), widen = true))
  }

  families.foreach { f =>
    test(s"property (${f.name}): chains of 1-5 segments over cell " +
         "subsets probe, describe and compact as a one-segment build") {
      val chainGen = for {
        n <- Gen.choose(1, 5)
        cells <- Gen.listOfN(n - 1,
          Gen.someOf(0 until Nlist).map(_.toSet))
        drop <- Gen.oneOf(None, Some(queryCell))
        widen <- Gen.oneOf(false, true)
      } yield (n, cells, drop, widen)
      val prop = Prop.forAllNoShrink(chainGen) {
        case (n, cells, drop, widen) => check(f, n, cells, drop, widen)
      }
      val result = SCTest.check(
        SCTest.Parameters.default.withMinSuccessfulTests(4), prop)
      assert(result.passed, result.status.toString)
    }
  }
}
