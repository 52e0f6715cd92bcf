package graft

/** Memory-pressure proof for the heavy aggregates (r9 verdict item 5):
  * run a named slice of the inventory under a DELIBERATELY starved
  * executor (small -Xmx from the caller + a small
  * spark.memory.fraction here) so Tungsten must spill, record how much
  * actually spilled per query, and dump results as parquet for the
  * standard DuckDB hash compare — proving the operators stay CORRECT
  * when memory runs out, which is the failure mode a 100× scale-up
  * hits first.
  *
  *   java -Xmx2g ... graft.SpillProbe <sfDir> <outDir> <q1,q2,...>
  *
  * Prints one JSON line: per query, wall seconds + bytes spilled
  * (memory+disk) summed over its stages. A zero spill count means the
  * starvation didn't bite for that query — the record is only evidence
  * for queries that DID spill.
  */
object SpillProbe {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, queryCsv) = args
    val names = queryCsv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val spark = LocalSession.builder()
      // starve execution memory: with the caller's small heap this
      // forces UnsafeExternalSorter / aggregation hash maps to spill
      .config("spark.memory.fraction",
        sys.env.getOrElse("SPARK_GRAFT_MEM_FRACTION", "0.2"))
      // the universal force-spill lever: every Tungsten sorter spills
      // after N rows regardless of free memory — with the window and
      // SMJ buffers dropped to match, a local[32] run exercises the
      // exact spill-merge code paths a memory-pressured 1000-executor
      // run hits, even where sf1 per-task state would fit
      .config("spark.shuffle.spill.numElementsForceSpillThreshold",
        sys.env.getOrElse("SPARK_GRAFT_FORCE_SPILL_ROWS", "2147483647"))
      .config("spark.sql.windowExec.buffer.spill.threshold",
        sys.env.getOrElse("SPARK_GRAFT_FORCE_SPILL_ROWS", "2147483647"))
      .config("spark.sql.sortMergeJoinExec.buffer.spill.threshold",
        sys.env.getOrElse("SPARK_GRAFT_FORCE_SPILL_ROWS", "2147483647"))
      .getOrCreate()
    new java.io.File(outDir).mkdirs()

    val sb = new StringBuilder
    sb ++= s"""{"metric":"spill_probe","sf_dir":"$sfDir""""
    sb ++= s""","heap_mb":${Runtime.getRuntime.maxMemory() / 1048576}"""
    sb ++= s""","mem_fraction":"${spark.conf.get("spark.memory.fraction")}""""
    names.foreach { name =>
      var outcome = "ok"
      val t = obs.Trace.of(spark) {
        try SparkEntry.queries(name)(spark, sfDir)
          // coalesce(1): same result-dump shape as Verify — only the
          // final result stage collapses, probe measures the query
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[spill] $name FAILED: ${e.getMessage}")
          outcome = "failed"
        }
      }
      val m = t.stages.map(_.taskMetrics)
      sb ++= f""","$name%s":{"outcome":"$outcome%s","wall_sec":${t.seconds}%.2f"""
      sb ++= s""","spill_mem_bytes":${m.map(_.memoryBytesSpilled).sum}"""
      sb ++= s""","spill_disk_bytes":${m.map(_.diskBytesSpilled).sum}}"""
      spark.catalog.clearCache()
    }
    sb ++= "}"
    println(sb.toString)
    // oracle dump so tools/check_oracle.py runs the standard compare
    val oracles = (SparkEntry.oracleSql ++ graft.ops.DynamicOracle.snapshot)
      .filter(o => names.contains(o._1))
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      oracles.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    spark.stop()
  }
}
