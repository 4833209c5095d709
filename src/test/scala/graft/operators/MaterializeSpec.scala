package graft.operators

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.JobCount
import org.apache.spark.sql.functions._

import graft.{SparkTestBase, Tables}

/** [[Materialize]]: one job per checkpoint, exact statistics on the frame,
  * row counts read from them, and a plan that survives re-union and
  * self-join. */
class MaterializeSpec extends SparkTestBase {

  private def aggregated = Tables.orders(spark, sf)
    .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))

  test("Materialize runs as many jobs as an eager localCheckpoint") {
    val sc = spark.sparkContext
    aggregated.collect() // read the footer and compile outside the counts
    val (_, bare) = JobCount(sc)(aggregated.localCheckpoint(eager = true))
    val (_, ours) = JobCount(sc)(Materialize(aggregated))
    assert(ours == bare, s"Materialize: $ours jobs, localCheckpoint: $bare")
  }

  test("Materialize.rows equals count() and runs no job; the frame's size is exact") {
    val m = Materialize(aggregated)
    val (rows, jobs) = JobCount(spark.sparkContext)(Materialize.rows(m))
    assert(jobs == 0, s"Materialize.rows ran $jobs jobs")
    assert(rows == m.count())
    assert(rows > 0)
    val stats = m.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(rows)), stats)
    // UnsafeRow bytes of two non-null longs: an 8-byte null bitset + 2 × 8
    assert(stats.sizeInBytes == BigInt(rows * 24), stats)
    // an empty checkpoint is exact too
    assert(Materialize.rows(Materialize(aggregated.filter(lit(false)))) == 0L)
  }

  test("kCoreProfile's peel rounds read their convergence counts from the checkpoints") {
    val sf01 = sf.replace("sf0.001", "sf0.01")
    val sc = spark.sparkContext
    GraphOps.kCoreProfile(spark, sf01).collect() // shared builds, compiles
    val (_, jobs) = JobCount(sc)(GraphOps.kCoreProfile(spark, sf01))
    // sf0.01: 28 jobs when each peel round also ran surv.count()
    assert(jobs == 20, s"q_kcore construction: $jobs jobs")
  }

  test("Materialize.rows fails loudly on a frame that is not a checkpoint") {
    val m = Materialize(aggregated)
    Seq(aggregated, m.filter(col("n") > 1), m.select(col("o_custkey")),
      aggregated.localCheckpoint(eager = true)).foreach { df =>
      val e = intercept[IllegalArgumentException](Materialize.rows(df))
      assert(e.getMessage.contains("not a checkpoint frame"), e.getMessage)
    }
  }

  test("a checkpoint carries no constraints, so it re-unions and self-joins cleanly") {
    // localCheckpoint keeps the source plan's constraints; the reason given
    // for a clean-slate frame is Spark 4's union constraint rewrite, which
    // fails ("key not found: attr#N") on a constraint whose attribute is
    // not in its child's output. A Materialize frame has none to carry.
    val src = Tables.orders(spark, sf)
      .filter(col("o_totalprice") > 1000 && col("o_custkey").isNotNull)
      .select(col("o_orderkey").as("src"), col("o_custkey").as("dst"))
    assert(src.queryExecution.optimizedPlan.constraints.nonEmpty)
    val e = Materialize(src)
    assert(e.queryExecution.analyzed.constraints.isEmpty)
    // the connected-components round: a symmetrized union of the
    // checkpoint, joined back to a checkpoint of itself, re-unioned
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    val labels = Materialize(sym.groupBy(col("src").as("node"))
      .agg(min(col("dst")).as("comp")))
    val next = labels.select(col("node"), col("comp"))
      .union(sym.join(labels, sym("dst") === labels("node"))
        .select(sym("src").as("node"), col("comp")))
      .groupBy(col("node")).agg(min(col("comp")).as("comp"))
    val n = Materialize.rows(labels)
    assert(Materialize.rows(Materialize(next)) == n)
    assert(next.join(labels.select(col("node").as("n2")),
      col("node") === col("n2")).count() == n)
  }

  test("Materialize.scala and its bridge are the only files under src/main/scala that checkpoint") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), root.toAbsolutePath)
    // a checkpoint, a Dataset rebuilt over a frame's rdd, or a hand-made
    // LogicalRDD: each is a frame without Materialize's statistics
    val checkpointing = Seq("""\.localCheckpoint\b""", """\.checkpoint\(""",
      """createDataFrame\([^)]*\.rdd\b""", """\bLogicalRDD\(""").map(_.r)
    val files = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && {
        val text = Files.readString(p)
        checkpointing.exists(_.findFirstIn(text).nonEmpty)
      })
      .map(p => root.relativize(p).toString).toSeq.sorted
    val bridge = "org/apache/spark/sql/GraftColumnBridge.scala"
    assert(files.filterNot(Set("graft/operators/Materialize.scala", bridge)) == Nil)
    // the scan finds the one checkpoint there is
    assert(files.contains(bridge))
  }
}
