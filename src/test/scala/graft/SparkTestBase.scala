package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per suite, built by the same factory as Verify and Bench
  * ([[GraftSession.builder]]) at a fixed local[4]. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("graft-test", "local[4]", 4)
    .getOrCreate()

  val sf: String = "/root/testdata/sf0.001"
}
