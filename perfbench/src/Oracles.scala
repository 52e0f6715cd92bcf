package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Output oracles. None of them calls the code under test: the CDC
  * oracle is a plain Spark SQL `row_number()` replay, the index oracle a
  * brute-force Jaccard join in plain Scala collections.
  */
object Oracles {

  /** Live rows of a latest-wins replay of the whole change log: per key
    * the event with the highest (ts_us, event_id), dropped if a delete.
    */
  def latestWins(spark: SparkSession, log: DataFrame, cols: Seq[String])
      : DataFrame = {
    log.createOrReplaceTempView("perfbench_log")
    spark.sql(
      s"""SELECT ${cols.mkString(", ")} FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY key ORDER BY ts_us DESC, event_id DESC) AS rn
         |  FROM perfbench_log) t
         |WHERE rn = 1 AND op <> 'd'""".stripMargin)
  }

  /** Rows missing from `actual` and rows `actual` has in excess, as a
    * multiset comparison over `cols`. (0, 0) means equal.
    */
  def mismatch(expected: DataFrame, actual: DataFrame, cols: Seq[String])
      : (Long, Long) = {
    val e = expected.selectExpr(cols: _*)
    val a = actual.selectExpr(cols: _*)
    (e.exceptAll(a).count(), a.exceptAll(e).count())
  }

  /** Word 3-shingles of a document, as plain strings. */
  def shingles(text: String, k: Int = 3): Set[String] = {
    val t = text.split(" ")
    if (t.length < k) Set.empty
    else (0 to t.length - k).map(i => t.slice(i, i + k).mkString(" ")).toSet
  }

  /** Every (corpus id, probe id) pair with Jaccard ≥ `threshold`, by
    * comparing each probe document against every corpus document.
    * Shingles are interned to ints and kept sorted so each comparison
    * is a linear merge.
    */
  def bruteForceJaccard(corpus: Seq[(Long, String)], probes: Seq[(Long, String)],
                        threshold: Double): Set[(Long, Long)] = {
    val ids = scala.collection.mutable.HashMap.empty[String, Int]
    def enc(text: String): Array[Int] =
      shingles(text).toArray.map(s => ids.getOrElseUpdate(s, ids.size)).sorted
    val cs = corpus.map { case (id, t) => (id, enc(t)) }
    val ps = probes.map { case (id, t) => (id, enc(t)) }
    def common(a: Array[Int], b: Array[Int]): Int = {
      var i = 0; var j = 0; var n = 0
      while (i < a.length && j < b.length) {
        if (a(i) == b(j)) { n += 1; i += 1; j += 1 }
        else if (a(i) < b(j)) i += 1
        else j += 1
      }
      n
    }
    val out = Set.newBuilder[(Long, Long)]
    ps.foreach { case (pid, p) =>
      cs.foreach { case (cid, c) =>
        val n = common(c, p)
        val union = c.length + p.length - n
        if (n > 0 && n.toDouble / union >= threshold) out += ((cid, pid))
      }
    }
    out.result()
  }
}
