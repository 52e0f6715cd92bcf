package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** One session factory: every entry point takes its run contract from
  * [[LocalSession]], so their numbers compare with `graft.Bench`'s.
  */
class LocalSessionSpec extends SparkSpec {

  test("no src/main file but the factory builds a SparkSession") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repo root, not $root")
    val stream = Files.walk(root)
    val builders = try stream.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains("SparkSession.builder"))
      .map(root.relativize(_: Path).toString).toList.sorted
      finally stream.close()
    assert(builders === List("scala/graft/LocalSession.scala"))
  }

  test("the test session carries the factory's contract") {
    val conf = SparkSpec.session.conf
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(SparkSpec.session.sparkContext.hadoopConfiguration
      .get("fs.file.impl") === "graft.sources.NioLocalFileSystem")
    assert(conf.get("spark.sql.shuffle.partitions") === "8")
    assert(SparkSpec.session.sparkContext.master === "local[4]")
  }
}
