package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.BeforeAndAfterAll

import graft.{SparkTestBase, StreamGate}

/** A suite that runs [[StreamGate]]'s parity checks: `gate(name)` runs
  * the named check on this suite's session and fixture, with no catch-all,
  * and fails with the check's note unless every assertion holds and the
  * check left none of its scratch directories behind. The fixture's
  * staging directory is deleted when the suite ends. */
trait StreamGateChecks extends SparkTestBase with BeforeAndAfterAll {
  private var staged: Option[StreamGate.Fixture] = None

  protected def fixture: StreamGate.Fixture = staged.getOrElse {
    val f = StreamGate.Fixture.stage(spark, sf)
    staged = Some(f)
    f
  }

  override def afterAll(): Unit =
    try staged.foreach(_.close()) finally super.afterAll()

  protected def gate(name: String): Unit = {
    val check = StreamGate.checks.toMap
      .getOrElse(name, fail(s"StreamGate has no check named $name"))
    val f = fixture
    val (c, made) = StreamGateSpec.madeDuring(check(f))
    assert(c.ok, s"$name: ${c.note} (stream=${c.streamRows}, " +
      s"batch=${c.batchRows})")
    val left = made.filter(Files.exists(_))
    assert(left.isEmpty, s"$name left ${left.mkString(", ")} behind")
  }
}

object StreamGateSpec {
  /** `body`'s value and the scratch directories StreamGate made while it
    * ran (from StreamGate's own record, so other processes using the temp
    * directory do not count). */
  def madeDuring[T](body: => T): (T, List[Path]) = {
    val before = StreamGate.created.size
    val v = body
    (v, StreamGate.created.take(StreamGate.created.size - before))
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

  test("land and a staged fixture leave no scratch directory behind") {
    val (fixture, Seq(staging)) =
      StreamGateSpec.madeDuring(StreamGate.Fixture.stage(spark, sf))
    assert(Files.isDirectory(staging))
    withTempDir("graft-land-spec") { in =>
      val (_, Seq(landTmp)) = StreamGateSpec.madeDuring(
        StreamGate.land(fixture.docs.limit(5), in, "001.parquet"))
      assert(spark.read.parquet(in.resolve("001.parquet").toString).count() == 5)
      assert(!Files.exists(landTmp))
    }
    fixture.close()
    assert(!Files.exists(staging))
  }
}
