package graft.operators

import org.apache.spark.{JobCount, TaskContext}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** [[PartitionSums]] against the DataFrame aggregates it replaces: the same
  * doubles bit for bit (nulls, several partitions, the trained GD weights
  * and EM parameters), the same DIVIDE_BY_ZERO failure, and one Spark job
  * per training step while q_quality_train / q_em_gmm are built. */
class PartitionSumsSpec extends SparkTestBase {

  private val sf01 = "/root/testdata/sf0.01"

  private def messages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).toSeq

  test("null inputs are skipped by the sums; the row count counts every row") {
    val df = spark.range(0, 200, 1, 3).select(
      when(col("id") % 7 === 0, lit(null).cast("double"))
        .otherwise(sin(col("id")) * exp(col("id") % 30)).as("v"))
    val want = df.agg(sum(col("v")), sum(col("v") * col("v")),
      count(lit(1)), count(col("v"))).head()
    val (got, rows) = new PartitionSums(df).run(3) { (r, acc) =>
      if (!r.isNullAt(0)) {
        val v = r.getDouble(0)
        acc(0) += v; acc(1) += v * v; acc(2) += 1.0
      }
    }
    assert(got(0) == want.getDouble(0), s"${got(0)} vs ${want.get(0)}")
    assert(got(1) == want.getDouble(1), s"${got(1)} vs ${want.get(1)}")
    assert(rows == 200L && want.getLong(2) == 200L)
    assert(got(2) == want.getLong(3).toDouble && got(2) < 200.0)
  }

  test("multi-partition sums add the partials in partition-index order, " +
      "whichever task finishes first") {
    val df = spark.range(0, 4000, 1, 8)
      .select((sin(col("id")) * exp(col("id") % 40)).as("v"))
    val partials = df.queryExecution.toRdd.mapPartitions { it =>
      var s = 0.0
      it.foreach(r => s += r.getDouble(0))
      Iterator(s)
    }.collect()
    assert(partials.length == 8)
    val inIndexOrder = partials.foldLeft(0.0)(_ + _)
    val sums = new PartitionSums(df)
    // partition 0 finishes last: a completion-order merge would add it last
    val (got, rows) = sums.run(1) { (r, acc) =>
      if (TaskContext.getPartitionId() == 0) Thread.sleep(1)
      acc(0) += r.getDouble(0)
    }
    assert(got(0) == inIndexOrder, s"${got(0)} vs $inIndexOrder")
    assert(got(0) == df.agg(sum(col("v"))).head().getDouble(0))
    assert(rows == 4000L)
    assert(sums.run(1)((r, acc) => acc(0) += r.getDouble(0))._1(0)
      == inIndexOrder)
  }

  test("a zero divisor fails with Catalyst's DIVIDE_BY_ZERO, like the DataFrame") {
    val df = spark.range(0, 10, 1, 3).select(col("id").cast("double").as("a"),
      (col("id") % 5).cast("double").as("b"))
    val viaDf = intercept[Exception](
      df.agg(sum(col("a") / col("b"))).head())
    val viaSums = intercept[Exception](new PartitionSums(df).run(1) { (r, acc) =>
      acc(0) += PartitionSums.div(r.getDouble(0), r.getDouble(1))
    })
    Seq(viaDf, viaSums).foreach { e =>
      assert(messages(e).exists(_.contains("DIVIDE_BY_ZERO")), messages(e))
    }
    // a non-zero divisor is a plain IEEE division
    assert(PartitionSums.div(1.0, 3.0) == 1.0 / 3.0)
    assert(PartitionSums.div(-0.0, 2.0).equals(-0.0))
  }

  /** Reference: the same GD steps, each one DataFrame aggregate. */
  private def qualityReplay(feats: DataFrame, iters: Int, lr: Double): Array[Double] = {
    var w = Array.fill(5)(0.0)
    for (_ <- 1 to iters) {
      val z = lit(w(0)) + col("x1") * w(1) + col("x2") * w(2) +
        col("x3") * w(3) + col("x4") * w(4)
      val e = (lit(1.0) / (lit(1.0) + exp(-z)) - col("y")).as("e")
      val g = feats.select(e, col("x1"), col("x2"), col("x3"), col("x4"))
        .agg(avg(col("e")), avg(col("e") * col("x1")),
          avg(col("e") * col("x2")), avg(col("e") * col("x3")),
          avg(col("e") * col("x4")))
        .head()
      w = w.indices.map(i => w(i) - lr * g.getDouble(i)).toArray
    }
    w
  }

  test("qualityWeights equals the 25-step DataFrame-aggregate replay bit for bit") {
    val feats = TextOps.qualityFeatures(spark, sf01)
    for (frame <- Seq(feats, Materialize(feats.repartition(5)))) {
      val got = TextOps.qualityWeights(frame, 25, 5.0)
      val want = qualityReplay(frame, 25, 5.0)
      assert(got.sameElements(want), s"${got.toSeq} vs ${want.toSeq}")
    }
  }

  test("emFit equals the 5-step DataFrame-aggregate replay bit for bit") {
    import graft.operators.IvfOps.stable6
    val x = graft.Tables.lineitem(spark, sf01)
      .select((col("l_extendedprice") / 10000.0).as("x"))
    val got = StatOps.emFit(x, 5)
    // the replay's init is the emFit one; only the steps are re-expressed
    var p = StatOps.emFit(x, 0)
    for (_ <- 1 to 5) {
      val (w, mu1, s21, mu2, s22) = p
      val num1 = lit(w) * exp(-((col("x") - mu1) * (col("x") - mu1))
        / (2.0 * s21)) / math.sqrt(s21)
      val num2 = lit(1.0 - w) * exp(-((col("x") - mu2) * (col("x") - mu2))
        / (2.0 * s22)) / math.sqrt(s22)
      val s = x.select((num1 / (num1 + num2)).as("r1"),
          (num2 / (num1 + num2)).as("r2"), col("x"))
        .agg(sum(col("r1")), sum(col("r1") * col("x")),
          sum(col("r1") * col("x") * col("x")),
          sum(col("r2")), sum(col("r2") * col("x")),
          sum(col("r2") * col("x") * col("x")), count(lit(1)))
        .head()
      val n = s.getLong(6).toDouble
      val nmu1 = stable6(s.getDouble(1) / s.getDouble(0))
      val nmu2 = stable6(s.getDouble(4) / s.getDouble(3))
      p = (stable6(s.getDouble(0) / n),
        nmu1, stable6(s.getDouble(2) / s.getDouble(0) - nmu1 * nmu1),
        nmu2, stable6(s.getDouble(5) / s.getDouble(3) - nmu2 * nmu2))
    }
    assert(got == p, s"$got vs $p")
  }

  test("building q_quality_train / q_em_gmm runs one job per GD / EM step") {
    val sc = spark.sparkContext
    // sf0.01: the checkpointed feature pass, and the init moments
    val featureJobs = 7
    val initJobs = 3
    val (_, quality0) = JobCount(sc)(TextOps.qualityTrain(spark, sf01, iters = 0))
    val (_, quality) = JobCount(sc)(TextOps.qualityTrain(spark, sf01))
    assert(quality0 == featureJobs, s"feature pass: $quality0 jobs")
    assert(quality == 25 + featureJobs, s"q_quality_train: $quality jobs")
    val (_, em0) = JobCount(sc)(StatOps.emGmm(spark, sf01, iters = 0))
    val (_, em) = JobCount(sc)(StatOps.emGmm(spark, sf01))
    assert(em0 == initJobs, s"em init: $em0 jobs")
    assert(em == 5 + initJobs, s"q_em_gmm: $em jobs")
  }
}
