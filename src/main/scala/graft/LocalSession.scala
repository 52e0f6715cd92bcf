package graft

import org.apache.spark.sql.SparkSession

/** The one way an entry point makes its session: the run contract every
  * main's numbers are measured under, so a probe's figures compare with
  * `graft.Bench`'s.
  *
  *  - `local[cpus]` with `shuffle.partitions = cpus`;
  *  - session time zone UTC (the fixture contract reads NTZ wall clock
  *    as UTC, see `Tables.normalizeTs`);
  *  - no UI;
  *  - `graft.sources.NioLocalFileSystem` for `file:` (JVM-native chmod:
  *    without hadoop native libs `RawLocalFileSystem` forks a chmod
  *    process per created file, a cost an HDFS/S3 deployment or a
  *    native-lib host never pays; same files, same permissions);
  *  - log level WARN, set at context start by `spark.log.level`.
  *
  * Returns the builder, so a caller adds its own `.config` lines (a
  * later `.config` of the same key wins) before `getOrCreate()`.
  */
object LocalSession {
  /** `SPARK_GRAFT_CPUS`, default 32. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def builder(cpus: Int = LocalSession.cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl",
        "graft.sources.NioLocalFileSystem")
      .config("spark.log.level", "WARN")
}
