package graft.operators

import org.apache.spark.sql.functions._
import graft.{SparkTestBase, Tables}

/** [[ExactPercentile]] must be BIT-IDENTICAL to Spark's own
  * `percentile()` — every assertion here compares raw doubles with ==,
  * never a tolerance. */
class ExactPercentileSpec extends SparkTestBase {

  private def sparkPercentile(df: org.apache.spark.sql.DataFrame,
      c: String, p: Double): Double =
    df.agg(expr(s"percentile($c, $p)")).collect()(0).getDouble(0)

  test("global percentiles match percentile() bitwise on lineitem") {
    val li = Tables.lineitem(spark, sf)
    val ps = Seq(0.0, 0.05, 0.5, 0.9, 0.95, 1.0)
    val got = ExactPercentile.computeGlobal(li, "l_extendedprice", ps)
    ps.zipWithIndex.foreach { case (p, i) =>
      assert(got(i) == sparkPercentile(li, "l_extendedprice", p),
        s"p=$p: ${got(i)}")
    }
  }

  test("grouped percentiles match on the low-cardinality quantity column") {
    val li = Tables.lineitem(spark, sf)
    // l_quantity is heavily duplicated — the bracket window spans ties
    val got = ExactPercentile.compute(li, Seq("l_returnflag"),
      "l_quantity", Seq(0.5, 0.9))
    val want = li.groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, 0.5)").as("m"),
        expr("percentile(l_quantity, 0.9)").as("p9"))
      .collect().map(r => Seq[Any](r.get(0)) ->
        (r.getDouble(1), r.getDouble(2))).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (k, vs) =>
      assert(vs(0) == want(k)._1 && vs(1) == want(k)._2, s"$k: ${vs.toSeq}")
    }
  }

  test("tiny and degenerate frames: n=1, n=2, all-equal, with NULLs") {
    val spark0 = spark
    import spark0.implicits._
    val cases = Seq(
      Seq(Some(5.0)),
      Seq(Some(1.0), Some(2.0)),
      Seq(Some(3.0), Some(3.0), Some(3.0), Some(3.0)),
      Seq(Some(1.5), None, Some(-2.25), Some(7.0), None),
      (1 to 101).map(i => Some((i % 7).toDouble)))
    for (vals <- cases; p <- Seq(0.0, 0.25, 0.5, 0.77, 1.0)) {
      val df = vals.toDF("x")
      val got = ExactPercentile.computeGlobal(df, "x", Seq(p))(0)
      assert(got == sparkPercentile(df, "x", p), s"vals=$vals p=$p got=$got")
    }
  }

  test("select equals compute bitwise: groups, ties, NULLs, signed zero") {
    val spark0 = spark
    import spark0.implicits._
    val rows = Seq(("a", Some(5.0)), ("b", Some(1.0)), ("b", Some(2.0)),
      ("c", Some(0.0)), ("c", Some(-0.0)), ("c", Some(-0.0)),
      ("d", Some(1.5)), ("d", None), ("d", Some(-2.25)), ("d", Some(7.0)),
      ("e", None)) ++
      (1 to 101).map(i => ("f", Some((i % 7).toDouble / 3))) ++
      (1 to 64).map(i => ("g", Some(math.sin(i.toDouble) * 1e3)))
    val df = rows.toDF("k", "x")
    // the caller drops NULLs and has no value to select from an all-NULL group
    val groups = rows.groupBy(_._1).view.mapValues(_.flatMap(_._2)).toMap
      .filter(_._2.nonEmpty)
    for (p <- Seq(0.0, 0.25, 0.5, 0.77, 1.0)) {
      val want = ExactPercentile.compute(df, Seq("k"), "x", Seq(p))
      val got = groups.map { case (k, xs) =>
        Seq[Any](k) -> ExactPercentile.select(xs.toArray, xs.size, p)
      }
      assert(got.keySet == want.keySet, s"p=$p") // "e" (all NULL) absent
      got.foreach { case (k, v) =>
        assert(java.lang.Double.doubleToRawLongBits(v) ==
          java.lang.Double.doubleToRawLongBits(want(k)(0)), s"p=$p $k: $v")
      }
    }
    intercept[IllegalArgumentException](
      ExactPercentile.select(Array.empty[Double], 0, 0.5))
  }

  test("exhausted brackets fall back to [min,max] and still resolve") {
    val spark0 = spark
    import spark0.implicits._
    // accuracy 1 makes the sketch brackets useless; the [min,max]
    // fallback must still produce the exact answer
    val df = (1 to 1000).map(_.toDouble).toDF("x")
    val got = ExactPercentile.computeGlobal(df, "x", Seq(0.42), accuracy = 1)
    assert(got(0) == sparkPercentile(df, "x", 0.42))
  }

  test("capped driver pull (maxPullRows) routes through counting+narrowing" +
    " and stays bit-identical") {
    val spark0 = spark
    import spark0.implicits._
    // accuracy 10 predicts windows of ~n rows; maxPullRows 8 forces the
    // counting pass and at least one narrowing round before any histogram
    // is collected — the 100 TB path, exercised at unit scale
    val df = (1 to 5000).map(i => ((i * 37) % 5000).toDouble).toDF("x")
    for (p <- Seq(0.0, 0.25, 0.5, 0.77, 0.9, 1.0)) {
      val got = ExactPercentile.computeGlobal(df, "x", Seq(p),
        accuracy = 10, maxPullRows = 8)
      assert(got(0) == sparkPercentile(df, "x", p), s"p=$p got=${got(0)}")
    }
    // tie-dominated window: narrowing collapses to lo == hi and the
    // 1-distinct-value histogram escape must fire, not loop
    val ties = ((1 to 4000).map(_ => 7.0) ++ Seq(1.0, 2.0, 99.0)).toDF("x")
    val gotT = ExactPercentile.computeGlobal(ties, "x", Seq(0.5),
      accuracy = 10, maxPullRows = 8)
    assert(gotT(0) == sparkPercentile(ties, "x", 0.5))
  }

  test("computeMulti fuses two columns and matches per-column compute bitwise") {
    val li = Tables.lineitem(spark, sf)
    val multi = ExactPercentile.computeMulti(li, Seq("l_returnflag"),
      Seq("l_quantity" -> Seq(0.5), "l_extendedprice" -> Seq(0.9, 0.5)))
    val qty = ExactPercentile.compute(li, Seq("l_returnflag"),
      "l_quantity", Seq(0.5))
    val price = ExactPercentile.compute(li, Seq("l_returnflag"),
      "l_extendedprice", Seq(0.9, 0.5))
    assert(multi(0).keySet == qty.keySet && multi(1).keySet == price.keySet)
    multi(0).foreach { case (k, vs) => assert(vs.toSeq == qty(k).toSeq, s"$k") }
    multi(1).foreach { case (k, vs) => assert(vs.toSeq == price(k).toSeq, s"$k") }
  }

  test("computeMulti: per-column NULLs are independent (a group all-NULL in" +
    " one column is absent from that column's map only)") {
    val spark0 = spark
    import spark0.implicits._
    val df = Seq(
      ("a", Some(1.0), Some(10.0)), ("a", Some(2.0), None),
      ("a", Some(3.0), Some(30.0)),
      ("b", None, Some(5.0)), ("b", None, Some(7.0)))
      .toDF("g", "x", "y")
    val multi = ExactPercentile.computeMulti(df, Seq("g"),
      Seq("x" -> Seq(0.5), "y" -> Seq(0.5)))
    def want(c: String) = df.groupBy(col("g"))
      .agg(expr(s"percentile($c, 0.5)").as("m")).collect()
      .filter(!_.isNullAt(1))
      .map(r => Seq[Any](r.get(0)) -> r.getDouble(1)).toMap
    val wx = want("x"); val wy = want("y")
    assert(multi(0).keySet == wx.keySet, s"x keys ${multi(0).keySet}")
    assert(multi(1).keySet == wy.keySet, s"y keys ${multi(1).keySet}")
    multi(0).foreach { case (k, vs) => assert(vs(0) == wx(k), s"x $k") }
    multi(1).foreach { case (k, vs) => assert(vs(0) == wy(k), s"y $k") }
  }

  test("computeMulti under forced counting/narrowing stays bit-identical") {
    val spark0 = spark
    import spark0.implicits._
    val df = (1 to 5000).map(i =>
      (((i * 37) % 5000).toDouble, ((i * 13) % 101).toDouble)).toDF("x", "y")
    val multi = ExactPercentile.computeMulti(df, Nil,
      Seq("x" -> Seq(0.25, 0.9), "y" -> Seq(0.5)),
      accuracy = 10, maxPullRows = 8)
    assert(multi(0)(Seq())(0) == sparkPercentile(df, "x", 0.25))
    assert(multi(0)(Seq())(1) == sparkPercentile(df, "x", 0.9))
    assert(multi(1)(Seq())(0) == sparkPercentile(df, "y", 0.5))
  }

  test("NULL group keys resolve like percentile() (null-safe pass-2 join)") {
    val spark0 = spark
    import spark0.implicits._
    val df = Seq(
      (Some("a"), 1.0), (Some("a"), 2.0), (Some("a"), 3.0),
      (None, 10.0), (None, 20.0), (None, 21.0), (None, 40.0))
      .toDF("g", "x")
    val got = ExactPercentile.compute(df, Seq("g"), "x", Seq(0.5))
    val want = df.groupBy(col("g"))
      .agg(expr("percentile(x, 0.5)").as("m")).collect()
      .map(r => Seq[Any](r.get(0)) -> r.getDouble(1)).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (k, vs) => assert(vs(0) == want(k), s"$k") }
  }
}
