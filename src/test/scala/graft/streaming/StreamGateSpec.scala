package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.{SparkTestBase, StreamGate}

/** A suite that runs [[StreamGate]]'s parity checks: `gate(name)` runs
  * the named check on this suite's session and fixture, with no catch-all,
  * and fails with the check's note unless every assertion holds. */
trait StreamGateChecks extends SparkTestBase {
  protected lazy val fixture: StreamGate.Fixture =
    StreamGate.Fixture.stage(spark, sf)

  protected def gate(name: String): Unit = {
    val check = StreamGate.checks.toMap
      .getOrElse(name, fail(s"StreamGate has no check named $name"))
    val c = check(fixture)
    assert(c.ok, s"$name: ${c.note} (stream=${c.streamRows}, " +
      s"batch=${c.batchRows})")
  }
}

class StreamGateSpec extends SparkTestBase {

  test("the streaming specs run exactly StreamGate's checks") {
    val root = Paths.get("src/test/scala/graft/streaming")
    assert(Files.isDirectory(root), root.toAbsolutePath)
    val call = """gate\("([^"]+)"\)""".r
    val run = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => call.findAllMatchIn(Files.readString(p)).map(_.group(1)))
      .toSeq
    val names = StreamGate.checks.map(_._1)
    assert(names.distinct == names, "duplicate check names")
    assert(run.distinct == run, "a check run by two tests")
    assert(run.toSet == names.toSet)
  }
}
