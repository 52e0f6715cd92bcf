package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One instrumentation path: [[graft.obs.Trace]] is the one place code
  * subscribes to Spark's listener bus, so every measurement shares its
  * barrier and its scoping.
  */
class InstrumentationGuardSpec extends AnyFunSuite {

  /** The files allowed to register a listener, with the reason. */
  private val allowed = Map(
    "main/scala/graft/obs/Trace.scala" -> "the one instrumentation path",
    "main/scala/graft/streaming/Monitor.scala" ->
      "the reference's T1 monitor loop: its progress listener is the feature",
    "main/scala/graft/sources/LogDelivery.scala" ->
      "the reference's K5 log delivery: its listeners ship the telemetry")

  private val registrations =
    Seq("addSparkListener", "listenerManager.register", "streams.addListener")

  test("no src/main or src/test file but Trace registers a listener, " +
       "beyond the two reference features") {
    val root = Paths.get("src")
    assert(Files.isDirectory(root), s"run from the repo root, not $root")
    // this spec names the calls it looks for
    val self = "test/scala/graft/InstrumentationGuardSpec.scala"
    val stream = Files.walk(root)
    val registering = try stream.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filter { p =>
        val text = Files.readString(p)
        registrations.exists(text.contains)
      }
      .map(root.relativize(_: Path).toString).toSet - self
      finally stream.close()
    assert(registering === allowed.keySet, "allowed:\n" +
      allowed.map { case (f, why) => s"$f ($why)" }.mkString("\n"))
  }
}
