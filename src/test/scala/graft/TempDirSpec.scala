package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Test scratch directories are made only by [[SparkTestBase.withTempDir]],
  * which deletes each one when its body ends. */
class TempDirSpec extends AnyFunSuite {

  test("SparkTestBase.scala is the only file under src/test/scala that " +
      "calls createTempDirectory") {
    val root = Paths.get("src/test/scala")
    assert(Files.isDirectory(root), root.toAbsolutePath)
    val call = """\bcreateTempDirectory\(""".r
    val callers = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        call.findFirstIn(Files.readString(p)).isDefined)
      .map(p => root.relativize(p).toString).toSeq
    assert(callers == Seq("graft/SparkTestBase.scala"))
  }
}
