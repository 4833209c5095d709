package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.CodegenCache
import org.apache.spark.metrics.source.CodegenMetrics

/** [[GraftSession.builder]] holds a warm session's generated classes, and
  * every entry point builds through it. */
class GraftSessionSpec extends SparkTestBase {

  // the perfbench driver_jobs queries plus three TPC-H joins
  private val warmQueries = Seq("q_theil_sen", "q_mad_outlier",
    "q_quality_train", "q_em_gmm", "q_kcore",
    "q_tpch_q1", "q_tpch_q3", "q_tpch_q5")

  /** Classes compiled while every query is built and run once. The session
    * caches are cleared first, so a rerun rebuilds every shared artifact. */
  private def compilesOfOnePass(): Long = {
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    operators.SessionCache.clearAll()
    val before = compiles
    warmQueries.foreach(q => FullExec.count(SparkEntry.queries(q)(spark, sf)))
    compiles - before
  }

  test("a warm session compiles each generated class once") {
    // the session first: Spark sizes the cache when it is first touched
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.GeneratedClassCacheEntries.toString)
    CodegenCache.clear()
    val warm = compilesOfOnePass()
    // more distinct classes than Spark's default 100-entry cache holds
    assert(warm > 100, s"warm pass compiled $warm classes")
    val rerun = compilesOfOnePass()
    assert(rerun == 0, s"rerun compiled $rerun classes after a warm pass of $warm")
  }

  test("GraftSession.scala is the only file under src/main/scala that " +
      "calls SparkSession.builder()") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), root.toAbsolutePath)
    val builders = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        Files.readString(p).contains("SparkSession.builder()"))
      .map(p => root.relativize(p).toString).toSeq
    assert(builders == Seq("graft/GraftSession.scala"))
  }
}
