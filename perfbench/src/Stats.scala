package perfbench

/** Summary statistics shared by every workload. Pure functions, so the
  * self-test can pin them without a Spark session.
  */
object Stats {

  /** Median with the usual midpoint rule for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail reading: the value, the percentile it stands at, how many
    * samples lie beyond it and how many there were in all.
    */
  final case class Tail(value: Double, pct: Double, beyond: Int, n: Int)

  /** The highest percentile with at least ten samples beyond it: with the
    * samples sorted ascending that is the value with exactly ten above
    * it, standing at percentile 100·(n−10)/n. Below twenty samples that
    * percentile would fall under the median, so the maximum is reported
    * instead and the record says so (pct 100, nothing beyond).
    */
  def tail(xs: Seq[Double]): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n >= 20) Tail(s(n - 11), 100.0 * (n - 10) / n, 10, n)
    else Tail(s.last, 100.0, 0, n)
  }

  /** Length of the union of [start, end) intervals, clipped to
    * [lo, hi) — the part of an op a set of child spans covers.
    */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double)
      : Double = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Entries of a streaming file-source log (`<checkpoint>/sources/0/`):
    * each log file is a version line followed by one JSON entry per
    * file, carrying the file's name and the source log offset that
    * listed it. Plain and `.compact` log files share this layout.
    */
  def fileSourceEntries(logText: String): Seq[(String, Long)] = {
    val pathRe = "\"path\"\\s*:\\s*\"([^\"]*)\"".r
    val batchRe = "\"batchId\"\\s*:\\s*(-?\\d+)".r
    logText.split("\n").toSeq.drop(1).map(_.trim).filter(_.startsWith("{"))
      .flatMap { line =>
        for {
          p <- pathRe.findFirstMatchIn(line)
          b <- batchRe.findFirstMatchIn(line)
        } yield (p.group(1).split("/").last, b.group(1).toLong)
      }
  }

  /** The file source's log offset in a query offset-log entry (version
    * line, batch metadata, then one offset per source).
    */
  def logOffset(offsetLogText: String): Option[Long] =
    "\"logOffset\"\\s*:\\s*(\\d+)".r
      .findFirstMatchIn(offsetLogText.split("\n").last).map(_.group(1).toLong)

  /** File → query batch: the source log numbers its entries by its own
    * offset, and query batch N read every offset up to its end offset,
    * so a file belongs to the first batch whose end offset reaches it.
    */
  def fileBatches(entries: Seq[(String, Long)], batchEnds: Seq[(Long, Long)])
      : Map[String, Long] = {
    val ends = batchEnds.sortBy(_._1)
    entries.flatMap { case (file, off) =>
      ends.find(_._2 >= off).map(e => file -> e._1)
    }.toMap
  }

  /** Freshness of each arrived file: from its scheduled arrival to the
    * end of the trigger that committed it, in seconds. `arrivalsMs` maps
    * file name to scheduled epoch ms, `fileBatch` file name to batch id,
    * `triggerEndMs` batch id to the trigger's end in epoch ms. A file
    * with no committed trigger yields no sample; the caller counts it.
    */
  def freshness(arrivalsMs: Map[String, Long], fileBatch: Map[String, Long],
                triggerEndMs: Map[Long, Long]): Seq[Double] =
    arrivalsMs.toSeq.sortBy(_._2).flatMap { case (file, due) =>
      fileBatch.get(file).flatMap(triggerEndMs.get)
        .map(end => (end - due) / 1000.0)
    }

  /** Largest backlog, in events: at each arrival instant, events that
    * have arrived minus events whose trigger has ended.
    */
  def maxBacklog(arrivals: Seq[(Long, Long)],
                 commits: Seq[(Long, Long)]): Long = {
    val arr = arrivals.sortBy(_._1)
    val com = commits.sortBy(_._1)
    var arrived = 0L
    var committed = 0L
    var ci = 0
    var worst = 0L
    arr.foreach { case (t, n) =>
      arrived += n
      while (ci < com.size && com(ci)._1 <= t) { committed += com(ci)._2; ci += 1 }
      worst = math.max(worst, arrived - committed)
    }
    worst
  }
}
