package graft.operators

import org.apache.spark.JobCount
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkTestBase, Tables}
import graft.functions.NumericFunctions.stableRound4

/** The event operators: q_theil_sen's kernel against the pair-join route
  * it replaced, and construction-cost pins — the Spark jobs a declared
  * query runs while its DataFrame is built. */
class EventOpsSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** q_theil_sen's hourly points `(event_type, h, v)`. */
  private def hourly(dir: String): DataFrame = Tables.events(spark, dir)
    .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
    .agg(sum(col("value")).as("v"))
    .select(col("event_type"), (unix_timestamp(col("hr")) / 3600L).as("h"),
      col("v"))

  /** The route q_theil_sen took before its kernel, unrounded, by type:
    * the slope median by `ExactPercentile.compute` over the joined pair
    * set, then the residual median by `compute` over the points. */
  private def pairJoinRoute(dir: String): Map[String, (Long, Double, Double)] = {
    val spark0 = spark
    import spark0.implicits._
    val pts = hourly(dir)
    val slopes = pts.as("a").join(pts.as("b"),
        col("a.event_type") === col("b.event_type")
          && col("a.h") < col("b.h"))
      .select(col("a.event_type").as("event_type"),
        try_divide(col("b.v") - col("a.v"), col("b.h") - col("a.h")).as("s"))
    val slope = ExactPercentile.compute(slopes, Seq("event_type"), "s",
        Seq(0.5))
      .map { case (k, v) => k.head.asInstanceOf[String] -> v(0) }
    val byType = Window.partitionBy(col("event_type"))
    val resid = pts.join(slope.toSeq.toDF("event_type", "slope"),
        Seq("event_type"))
      .select(col("event_type"),
        count(lit(1)).over(byType).as("n_hours"),
        (col("v") - col("slope") * (col("h") - min(col("h")).over(byType)))
          .as("r"))
    ExactPercentile.compute(resid, Seq("event_type", "n_hours"), "r",
        Seq(0.5))
      .map { case (k, v) =>
        val t = k(0).asInstanceOf[String]
        t -> ((k(1).asInstanceOf[Long], slope(t), v(0)))
      }
  }

  /** [[EventOps.theilSen]]'s rows and its kernel's unrounded fits equal
    * the pair-join route's, compared as raw bits. */
  private def assertMatchesPairJoinRoute(dir: String): Unit = {
    val spark0 = spark
    import spark0.implicits._
    val want = pairJoinRoute(dir)
    val fits = hourly(dir).groupBy(col("event_type"))
      .agg(collect_list(struct(col("h"), col("v"))).as("pts"))
      .collect()
      .flatMap(r => EventOps.theilSenFit(r.getString(0), r.getSeq[Row](1))
        .map(r.getString(0) -> _))
      .toMap
    assert(fits.keySet == want.keySet)
    fits.foreach { case (t, f) =>
      val (_, s, i) = want(t)
      assert(bits(f.slope) == bits(s) && bits(f.intercept) == bits(i),
        s"$t: $f vs ${want(t)}")
    }
    val rounded = want.toSeq.map { case (t, (n, s, i)) => (t, n, s, i) }
      .toDF("event_type", "n_hours", "slope", "intercept")
      .select(col("event_type"), col("n_hours"),
        stableRound4(col("slope")), stableRound4(col("intercept")))
      .orderBy(col("event_type")).collect()
    val df = EventOps.theilSen(spark, dir)
    // the declared schema, nullability included: n_hours is a count
    assert(df.schema == StructType(Seq(
      StructField("event_type", StringType),
      StructField("n_hours", LongType, nullable = false),
      StructField("slope", DoubleType), StructField("intercept", DoubleType))))
    val got = df.collect()
    assert(got.length == rounded.length)
    got.zip(rounded).foreach { case (g, w) =>
      assert(g.getString(0) == w.getString(0) && g.getLong(1) == w.getLong(1)
        && bits(g.getDouble(2)) == bits(w.getDouble(2))
        && bits(g.getDouble(3)) == bits(w.getDouble(3)), s"$g vs $w")
    }
  }

  test("theilSen runs no construction job and plans no join") {
    val sc = spark.sparkContext
    EventOps.theilSen(spark, sf01) // compile the plans outside the count
    val (df, jobs) = JobCount(sc)(EventOps.theilSen(spark, sf01))
    // it was 10 at sf0.01: the points checkpoint and the slope median's
    // sketch and histogram passes over the pair join
    assert(jobs == 0, s"q_theil_sen construction: $jobs jobs")
    df.collect()
    val joins = collect(df.queryExecution.executedPlan) {
      case j: BaseJoinExec => j
    }
    assert(joins.isEmpty, df.queryExecution.executedPlan.toString)
  }

  test("theilSen: exact on a linear series; robust to an outlier OLS would chase") {
    import spark.implicits._
    // type a: v = 2x + 3 over hours 0..6, except hour 3 spiked to 100.
    // Hand-computed: median pairwise slope = 2 (15 clean pairs straddle
    // the 6 outlier pairs), median residual = 3 — the outlier moves
    // Theil-Sen not at all, while OLS slope would be far off.
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = (0 to 6).map { h =>
      val v = if (h == 3) 100.0 else 2.0 * h + 3.0
      (new java.sql.Timestamp(base.getTime + h * 3600L * 1000L), "a", v)
    }
    withTempDir("graft-ts") { dir =>
      val tmp = dir.toString
      rows.toDF("ts", "event_type", "value")
        .write.parquet(s"$tmp/events.parquet")
      val out = EventOps.theilSen(spark, tmp).collect()
      assert(out.length == 1)
      val r = out.head
      assert((r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
        == (("a", 7L, 2.0, 3.0)), s"got $r")
    }
  }

  test("theilSen on the fixture: every type, full series, finite estimates") {
    val out = EventOps.theilSen(spark, sf).collect()
    val types = Tables.events(spark, sf).select("event_type")
      .distinct().collect().map(_.getString(0)).toSet
    assert(out.map(_.getString(0)).toSet == types)
    out.foreach { r =>
      assert(r.getLong(1) > 0)
      assert(!r.getDouble(2).isNaN && !r.getDouble(3).isNaN)
    }
  }

  test("theilSen equals the pair-join route bitwise: NULL hours, tied" +
    " slopes, one- and two-hour types") {
    import spark.implicits._
    val rng = new scala.util.Random(20261020L)
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    def at(hour: Int): java.sql.Timestamp =
      new java.sql.Timestamp(base + hour * 3600000L + rng.nextInt(3600) * 1000L)
    // each hour: 1-3 events; an hour whose values are all NULL has v NULL
    def series(t: String, hours: Seq[Int], value: Int => Option[Double]) =
      hours.flatMap(h => Seq.fill(1 + rng.nextInt(3))((at(h), t, value(h))))
    val rows =
      series("rand", (0 until 120).filter(_ => rng.nextDouble() < 0.6), _ =>
        if (rng.nextDouble() < 0.2) None
        else Some(math.round(rng.nextGaussian() * 40) / 8.0)) ++
      // small integer values on a regular grid: many tied slopes
      series("ties", 0 until 48, h => Some((h % 4).toDouble)) ++
      series("one", Seq(5), _ => Some(2.5)) ++
      series("two", Seq(3, 10), h => Some(h * 1.5)) ++
      // three hours, one with a value: no fit
      series("lone", Seq(1, 2, 3), h => if (h == 2) Some(1.0) else None)
    withTempDir("graft-theil") { dir =>
      val tmp = dir.toString
      rows.toDF("ts", "event_type", "value").repartition(3)
        .write.parquet(s"$tmp/events.parquet")
      val got = EventOps.theilSen(spark, tmp).collect().map(_.getString(0))
      assert(got.toSeq == Seq("rand", "ties", "two"))
      assertMatchesPairJoinRoute(tmp)
    }
  }

  test("theilSen equals the pair-join route bitwise on the sf0.01 fixture") {
    assertMatchesPairJoinRoute(sf01)
  }

  test("theilSenPairs refuses a pair count past the JVM array limit") {
    // C(65536, 2) = 2,147,450,880 fits; C(65537, 2) = 2,147,516,416 does not
    assert(EventOps.theilSenPairs("view", 65536) == 2147450880)
    val e = intercept[IllegalArgumentException](
      EventOps.theilSenPairs("view", 65537))
    assert(e.getMessage.contains("view") && e.getMessage.contains("65537"),
      e.getMessage)
  }
}
