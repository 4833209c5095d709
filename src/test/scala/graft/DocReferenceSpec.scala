package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** A spec that library docs name as the place a property is pinned must
  * exist, or the reference sends the reader nowhere. */
class DocReferenceSpec extends AnyFunSuite {

  private def scalaFiles(root: Path): Seq[Path] =
    Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq

  test("every Spec name in src/main/scala has a src/test/scala file") {
    val (main, tests) = (Paths.get("src/main/scala"), Paths.get("src/test/scala"))
    assert(Files.isDirectory(main), main.toAbsolutePath)
    assert(Files.isDirectory(tests), tests.toAbsolutePath)
    val specs = scalaFiles(tests)
      .map(_.getFileName.toString.stripSuffix(".scala")).toSet
    val name = """\b[A-Z]\w*Spec\b""".r
    val dangling = scalaFiles(main).flatMap { p =>
      name.findAllIn(Files.readString(p)).filterNot(specs)
        .map(n => s"${main.relativize(p)}: $n")
    }.distinct
    assert(dangling.isEmpty, dangling.mkString("\n"))
  }
}
