package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, one session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  // the entry points' run contract (UTC, NIO local FS, WARN), so suites
  // exercise the FS and time zone the engine runs on
  lazy val session: SparkSession = LocalSession.builder(cpus = 4)
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", 8L)
    .getOrCreate()
}
