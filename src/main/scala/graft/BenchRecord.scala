package graft

/** Builders for the two bench artifacts (separated from Bench so the
  * layout invariants are unit-testable without a SparkSession).
  *
  * STDOUT record survival rules — learned the hard way across rounds:
  * the driver captures a ~2000-char SUFFIX of the sbt log and parses
  * the bench line out of it. BENCH_r01–r03 overflowed the window
  * (front-truncated); BENCH_r04 fit and still parsed null because sbt
  * prefixed the forked stdout (fixed via run/outputStrategy). r5's
  * near-miss: the failed-name list is unbounded in principle (56 names
  * that round), and the totals sat at the FRONT of the line — the end
  * that dies first under suffix capture. Hence (ADVICE r5):
  *  1. every variable-length section (queries, extras, failed) is
  *     clamped to a fixed character budget, so the line is bounded
  *     (~1200 chars) regardless of how bad the round was; and
  *  2. the scalar totals (metric/value/n_queries/n_failed) come AFTER
  *     the clamped sections, so even a worst-case truncation that eats
  *     the front leaves every total inside the captured tail.
  */
object BenchRecord {
  /** (name, warmSec, coldSec, succeeded) per query — Bench's result row. */
  type Result = (String, Double, Double, Boolean)

  private def r3(v: Double): String = BigDecimal(v)
    .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  private def kv(k: String, v: Double): String = "\"" + k + "\":" + r3(v)

  /** Greedy prefix of `entries` whose joined length stays within
    * `budget` chars — drops the tail, never mangles an entry.
    */
  private def clamp(entries: Seq[String], budget: Int): String =
    entries.foldLeft((List.empty[String], 0)) {
      case ((acc, len), e) =>
        if (len + e.length + 1 <= budget) (e :: acc, len + e.length + 1)
        else (acc, len)
    }._1.reverse.mkString(",")

  /** The extras every record leads with, in the order the stdout clamp
    * keeps them: the run contract (`cpus` asked for, the session's
    * `default_parallelism`), the host-speed proxies (serial; parallel
    * at open, mid and close of the sitting), the outlier-retry count
    * and, when a same-sf reference was found, the scale the retry rule
    * normalized it by and whether the 0.8 floor set that scale.
    */
  def headExtras(cpus: Int, defaultParallelism: Int, serialProxy: Double,
      parallelProxies: (Double, Double, Double), retries: Int,
      retryScale: Option[(Double, Boolean)]): Seq[(String, Double)] = {
    val (open, mid, close) = parallelProxies
    Seq("cpus" -> cpus.toDouble,
      "default_parallelism" -> defaultParallelism.toDouble,
      "host_serial_proxy_sec" -> serialProxy,
      "host_parallel_proxy_sec" -> open,
      "host_parallel_proxy_mid_sec" -> mid,
      "host_parallel_proxy_close_sec" -> close,
      "outlier_retries" -> retries.toDouble) ++
      retryScale.toSeq.flatMap { case (scale, floored) =>
        Seq("retry_scale" -> scale,
          "retry_scale_floored" -> (if (floored) 1.0 else 0.0))
      }
  }

  /** The durable everything-included line for BENCH_LOCAL.json.
    *
    * `retried` records BOTH attempts of every outlier-retried query
    * (name → (first min-of-2, retry)) so a cross-round reader can see
    * exactly where the best-of-attempts policy moved a number — ADVICE
    * r12: a bare retry COUNT let the policy change masquerade as
    * engine speedup.
    */
  def full(results: Seq[Result], extras: Seq[(String, Double)],
      sfDir: String,
      retried: Seq[(String, Double, Double)] = Nil): String = {
    val qs = results.map { case (k, v, _, _) => kv(k, v) }
      .mkString("{", ",", "}")
    val qsCold = results.map { case (k, _, c, _) => kv(k, c) }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, _, false) => s"\"$k\"" }
      .mkString("[", ",", "]")
    val ex = extras.map { case (k, v) => kv(k, v) }.mkString("{", ",", "}")
    val rt = retried.map { case (k, first, retry) =>
      "\"" + k + "\":{" + kv("first", first) + "," + kv("retry", retry) + "}"
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    s"""{"queries_cold":$qsCold,"queries":$qs,"retried":$rt,"metric":"total","value":${r3(
      total)},"unit":"sec","n_queries":${results.size},"failed":$failed,"extras":$ex,"sf":"$sfDir"}"""
  }

  /** The bounded stdout line: clamped variable sections FIRST, scalar
    * totals LAST (see object doc for why the order matters).
    */
  def compact(results: Seq[Result], extras: Seq[(String, Double)],
      sfDir: String, outFile: String = "BENCH_LOCAL.json"): String = {
    val heaviest = results.filter(_._4).sortBy(-_._2)
      .map { case (k, v, _, _) => kv(k, v) }
    val failedNames = results.collect { case (k, _, _, false) =>
      s"\"$k\"" }
    val exEntries = extras.map { case (k, v) => kv(k, v) }
    val total = results.map(_._2).sum
    s"""{"queries":{${clamp(heaviest, 600)}},"extras":{${clamp(exEntries,
      300)}},"failed":[${clamp(failedNames, 150)}],"full_record":"$outFile","sf":"$sfDir","metric":"total","unit":"sec","n_queries":${
      results.size},"n_failed":${failedNames.size},"value":${r3(total)}}"""
  }
}
