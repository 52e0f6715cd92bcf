package graft.tools

/** Per-query `explain("formatted")` dumps for the optimization-round
  * plan evidence (`plans/rNN/<query>_{before,after}.txt`): one file per
  * named query, same harness shape as `graft.Plans` (sf0.01,
  * `LocalSession` at 4 cpus).
  *
  *   sbt 'runMain graft.tools.PlanDump plans/r15 _before q1,q2'
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(outDir, suffix, namesCsv) = args
    val names = namesCsv.split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.01")
    val spark = graft.LocalSession.builder(cpus = 4).getOrCreate()
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val df = graft.Plans.resolve(name)(spark, sfDir)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/$name$suffix.txt"),
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode) + "\n")
      println(s"wrote $outDir/$name$suffix.txt")
    }
    spark.stop()
  }
}
