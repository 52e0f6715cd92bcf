package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession.builder().getOrCreate()
    new java.io.File(outDir).mkdirs()
    // local-iteration filters (the driver never sets either — full
    // inventory by default): SPARK_GRAFT_ONLY=q1,q2 runs a subset;
    // SPARK_GRAFT_SKIP=q1,q2 excludes some. Since r10 the inventory
    // carries no by-design exclusion at any scale (the quadratic
    // sim_knn_join demonstrator moved to a spec/bench extra), so SKIP
    // is purely a local-iteration tool.
    def names(env: String): Option[Set[String]] = sys.env.get(env)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty) // set-but-empty = unset, not "run nothing"
    val only = names("SPARK_GRAFT_ONLY")
    val skip = names("SPARK_GRAFT_SKIP").getOrElse(Set.empty[String])
    // Fail LOUDLY on a name that matches nothing: a typo'd SKIP would
    // silently run the very query it meant to fence (hours at replica
    // scale) while skipped.json records it as skipped-by-design — the
    // exact misleading provenance the file exists to prevent.
    val unknown = (skip ++ only.getOrElse(Set.empty))
      .filterNot(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"SPARK_GRAFT_SKIP/ONLY name(s) not in the inventory: " +
        s"${unknown.toSeq.sorted.mkString(", ")}")
    val selected = (only match {
      case Some(names) => SparkEntry.queries.filter(q => names(q._1))
      case None => SparkEntry.queries
    }).filter(q => !skip(q._1))
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    selected.foreach { case (name, fn) =>
      // same query-boundary block hygiene as Bench.runOnce: retained
      // localCheckpoint blocks otherwise accumulate across the
      // inventory (the r13 sf10 sitting needed a 40g Verify heap)
      graft.ops.QueryPack.releaseRetainedBlocks(spark)
      // coalesce(1): one file per result for the oracle compare; only
      // the result frame's final stage collapses (repartition(1) would
      // shuffle away the sorted order row-returning queries assert)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // recorded in skipped.json's "failed" array (ADVICE r9): a
        // query that threw wrote no parquet, so "ran" alone would
        // claim coverage for an artifact that does not exist
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries that cache intermediates (bm25 dls, dedup shingle
      // sets) must not accumulate across the 134-query inventory —
      // same per-query hygiene Bench applies
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // static oracles + the run-time-rendered ones (DynamicOracle:
    // data-derived literals like trained centroids — registered while
    // the queries above executed, so they match THIS sfDir)
    val all = SparkEntry.oracleSql ++ graft.ops.DynamicOracle.snapshot
    val oracles = (only match {
      case Some(names) => all.filter(o => names(o._1))
      case None => all
    }).filter(o => !skip(o._1))
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Provenance for partial runs (ADVICE r8): a reader of a replica
    // correctness artifact must be able to tell "skipped by design"
    // from "never ran". Record both filters verbatim plus the resolved
    // key lists; check_oracle.py copies this into its report.
    val allNames = SparkEntry.queries.keySet
    val skippedKeys = (skip.toSeq.sorted ++
      only.map(names => (allNames -- names).toSeq.sorted).getOrElse(Nil)).distinct
    val prov =
      s"""{"skip_env": ${q(sys.env.getOrElse("SPARK_GRAFT_SKIP", ""))},
         | "only_env": ${q(sys.env.getOrElse("SPARK_GRAFT_ONLY", ""))},
         | "ran": [${selected.keys.toSeq.sorted.map(q).mkString(",")}],
         | "failed": [${failed.toSeq.sorted.map(q).mkString(",")}],
         | "skipped": [${skippedKeys.map(q).mkString(",")}]}""".stripMargin
    Files.writeString(Paths.get(s"$outDir/skipped.json"), prov)
    spark.stop()
  }
}
