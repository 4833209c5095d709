package graft

import java.nio.file.{Files, Path}

import org.apache.hadoop.fs.FileUtil
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per suite, built by the same factory as Verify and Bench
  * ([[GraftSession.builder]]) at a fixed local[4]. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("graft-test", "local[4]", 4)
    .getOrCreate()

  val sf: String = "/root/testdata/sf0.001"

  /** Run `body` in a fresh temp directory, deleted when it ends. */
  def withTempDir[T](prefix: String)(body: Path => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir) finally FileUtil.fullyDelete(dir.toFile)
  }
}
