package graft.operators

import org.apache.spark.JobCount
import org.apache.spark.sql.functions._

import graft.{SparkTestBase, Tables}

/** Invariant tests for the analytics surface added in round 2 (the
  * value-level contract is the DuckDB oracle gate; these pin the semantics
  * that the hash compare can't express directly). */
class AnalyticsOpsSpec extends SparkTestBase {

  test("subqueryAgg: every row beats the global average, threshold constant") {
    val out = AnalyticsOps.subqueryAgg(spark, sf).cache()
    try {
      val avgs = out.select(col("avg_tp")).distinct().collect()
      assert(avgs.length == 1)
      assert(out.filter(col("o_totalprice") <= col("avg_tp")).count() == 0)
      val total = Tables.orders(spark, sf).count()
      assert(out.count() > 0 && out.count() < total)
    } finally out.unpersist()
  }

  test("stringAgg: statuses sorted CSV over {F,O,P}; counts sum to table size") {
    val rows = AnalyticsOps.stringAgg(spark, sf).collect()
    val valid = Set("F", "O", "P")
    rows.foreach { r =>
      val parts = r.getString(1).split(",").toSeq
      assert(parts == parts.sorted)
      assert(parts.toSet.subsetOf(valid))
    }
    assert(rows.map(_.getLong(2)).sum == Tables.orders(spark, sf).count())
  }

  test("regexFuncs: extracted number equals the key; masking removes digits") {
    val out = AnalyticsOps.regexFuncs(spark, sf).cache()
    try {
      assert(out.filter(col("cust_num") =!= col("c_custkey")).count() == 0)
      assert(out.filter(col("masked").rlike("[0-9]")).count() == 0)
      val mismatch = out.join(Tables.customer(spark, sf), "c_custkey")
        .filter(col("has_double9") =!= col("c_name").contains("99"))
      assert(mismatch.count() == 0)
    } finally out.unpersist()
  }

  test("windowNav: quartiles in 1..4; exactly one missing second_price per customer") {
    val out = AnalyticsOps.windowNav(spark, sf).cache()
    try {
      assert(out.filter(col("quartile") < 1 || col("quartile") > 4).count() == 0)
      assert(out.filter(col("first_price").isNull).count() == 0)
      val nCustomers = out.select(col("o_custkey")).distinct().count()
      assert(out.filter(col("second_price").isNull).count() == nCustomers)
      // last order per customer has no next_price
      assert(out.filter(col("next_price").isNull).count() == nCustomers)
    } finally out.unpersist()
  }

  test("mapFuncs: per-status probes sum to the priority's order count") {
    val out = AnalyticsOps.mapFuncs(spark, sf)
    val perPrio = Tables.orders(spark, sf)
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("expected"))
    val joined = out.join(perPrio, "o_orderpriority")
      .filter(col("n_f") + col("n_o") + col("n_p") =!= col("expected"))
    assert(joined.count() == 0)
  }

  test("structFuncs: one row per order, max_price is the true per-order max") {
    val out = AnalyticsOps.structFuncs(spark, sf)
    val expected = Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey"))
      .agg(round(max(col("l_extendedprice")), 4).as("expected_max"))
    assert(out.count() == expected.count())
    val bad = out.join(expected, "l_orderkey")
      .filter(col("max_price") =!= col("expected_max"))
    assert(bad.count() == 0)
  }

  test("crossGrid: |priorities| x |statuses| rows; zero-filled cells sum to total") {
    val orders = Tables.orders(spark, sf)
    val nP = orders.select(col("o_orderpriority")).distinct().count()
    val nS = orders.select(col("o_orderstatus")).distinct().count()
    val rows = AnalyticsOps.crossGrid(spark, sf).collect()
    assert(rows.length == nP * nS)
    assert(rows.map(_.getLong(2)).sum == orders.count())
  }

  test("unpivot is the exact inverse reshape of the pivot") {
    val wide = AnalyticsOps.pivotStatus(spark, sf).collect()
    val long = AnalyticsOps.unpivotStatus(spark, sf).collect()
    assert(long.length == wide.length * 3)
    val longMap = long.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    wide.foreach { r =>
      assert(longMap((r.getString(0), "n_f")) == r.getLong(1))
      assert(longMap((r.getString(0), "n_o")) == r.getLong(2))
      assert(longMap((r.getString(0), "n_p")) == r.getLong(3))
    }
  }

  test("corrStats: correlation in [-1,1], group counts cover the table") {
    val rows = AnalyticsOps.corrStats(spark, sf).collect()
    rows.foreach { r =>
      assert(!r.isNullAt(1) && !r.isNullAt(2))
      val c = r.getDouble(1)
      assert(c >= -1.0 && c <= 1.0)
    }
    // qty/price correlation in this data is ~0, so sign comparisons against
    // the rounded value are meaningless; the value-level contract is the
    // DuckDB oracle. Here: the groups partition the table.
    assert(rows.map(_.getLong(3)).sum == Tables.lineitem(spark, sf).count())
  }

  test("dateSpine: contiguous months, counts sum to the table total") {
    val rows = AnalyticsOps.dateSpine(spark, sf).collect()
    val months = rows.map(_.getDate(0).toLocalDate)
    months.sliding(2).foreach {
      case Array(a, b) => assert(a.plusMonths(1) == b)
      case _ =>
    }
    assert(rows.map(_.getLong(1)).sum == Tables.orders(spark, sf).count())
  }

  test("lambdaFuncs: self_dot equals sum_sq and both match the native dot product") {
    val out = AnalyticsOps.lambdaFuncs(spark, sf)
    assert(out.filter(col("sum_sq") =!= col("self_dot")).count() == 0)
    val native = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        graft.functions.NumericFunctions.stableRound4(
          graft.functions.VectorFunctions.dotProduct(
            col("embedding"), col("embedding"))).as("native_dot"))
    val joined = out.join(native, "vec_id")
      .filter(abs(col("sum_sq") - col("native_dot")) > 1e-6)
    assert(joined.count() == 0)
  }

  test("editDistancePairs: symmetric bound, ordered output, planted near-match found") {
    import spark.implicits._
    val rows = AnalyticsOps.editDistancePairs(spark, sf).collect()
    assert(rows.nonEmpty) // the corpus plants near-dups; blocking must keep them
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getInt(2) >= 0 && r.getInt(2) <= 5)
    }
    val dists = rows.map(_.getInt(2)).toSeq
    assert(dists == dists.sorted)
    // levenshtein semantics probe on known strings
    val d = Seq(("kitten", "sitting")).toDF("a", "b")
      .select(levenshtein(col("a"), col("b"))).head().getInt(0)
    assert(d == 3)
  }

  test("histogram: buckets partition the table, bounds inside bucket range") {
    val rows = AnalyticsOps.histogram(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum == Tables.orders(spark, sf).count())
    rows.foreach { r =>
      val (b, lo, hi) = (r.getLong(0), r.getDouble(2), r.getDouble(3))
      assert(lo <= hi)
      assert(lo >= b * 25000.0 && hi < (b + 1) * 25000.0)
    }
  }

  test("normalize: values span [0,1] with both endpoints attained") {
    val out = AnalyticsOps.normalize(spark, sf).cache()
    try {
      assert(out.filter(col("tp_norm") < 0 || col("tp_norm") > 1).count() == 0)
      assert(out.filter(col("tp_norm") === 0.0).count() >= 1)
      assert(out.filter(col("tp_norm") === 1.0).count() >= 1)
      assert(out.count() == Tables.orders(spark, sf).count())
    } finally out.unpersist()
  }

  test("havingAgg equals the unfiltered aggregate restricted to n>=5") {
    val all = Tables.orders(spark, sf)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
    val expected = all.filter(col("n") >= 5).count()
    val out = AnalyticsOps.havingAgg(spark, sf)
    assert(out.count() == expected)
    assert(out.filter(col("n_orders") < 5).count() == 0)
  }

  test("rfmSegments: segments cover all customers with valid 1-4 digit codes") {
    val out = AnalyticsOps.rfmSegments(spark, sf).collect()
    assert(out.map(_.getLong(1)).sum ==
      Tables.orders(spark, sf).select("o_custkey").distinct().count())
    out.foreach { r =>
      val seg = r.getString(0)
      assert(seg.length == 3 && seg.forall(c => c >= '1' && c <= '4'), seg)
    }
  }

  test("madOutlier: outlier counts match a direct recomputation") {
    val li = Tables.lineitem(spark, sf)
    val med = li.agg(expr("percentile(l_extendedprice, 0.5)")).head().getDouble(0)
    val mad = li.select(abs(col("l_extendedprice") - med).as("d"))
      .agg(expr("percentile(d, 0.5)")).head().getDouble(0)
    val expected = li
      .filter(abs(col("l_extendedprice") - med) > 3.0 * mad).count()
    val out = AnalyticsOps.madOutlier(spark, sf).collect()
    assert(out.map(_.getLong(2)).sum == expected)
    assert(out.map(_.getLong(1)).sum == li.count())
    out.foreach(r => assert(r.getDouble(3) > 0 && r.getDouble(4) > 0))
  }

  test("madOutlier's construction runs 10 jobs: two exact medians of 5 each") {
    val sc = spark.sparkContext
    Tables.lineitem(spark, sf01) // infer the schema outside the count
    val (_, jobs) = JobCount(sc)(AnalyticsOps.madOutlier(spark, sf01))
    // sf0.01: two ExactPercentile.computeGlobal calls of 5 jobs each; the
    // same count on three runs in a row
    assert(jobs == 10, s"q_mad_outlier construction: $jobs jobs")
  }

  test("skyline equals the brute-force dominance filter over distinct points") {
    val out = AnalyticsOps.skyline(spark, sf).collect()
      .map(r => (r.getDouble(0), r.getInt(1)))
    // brute force: keep (p, s) iff no other point (p2, s2) has p2 <= p,
    // s2 >= s with one strict
    val pts = Tables.part(spark, sf)
      .groupBy(round(col("p_retailprice"), 4), col("p_size"))
      .count().collect().map(r => (r.getDouble(0), r.getInt(1)))
    val expect = pts.filter { case (p, s) =>
      !pts.exists { case (p2, s2) =>
        p2 <= p && s2 >= s && (p2 < p || s2 > s) }
    }.sortBy(_._1)
    assert(out.toSeq == expect.toSeq,
      s"skyline mismatch: got ${out.length}, expect ${expect.length}")
    // frontier is strictly monotone: price up, size up
    out.sliding(2).foreach { case Array((p1, s1), (p2, s2)) =>
      assert(p1 < p2 && s1 < s2, s"not monotone: ($p1,$s1) -> ($p2,$s2)")
    case _ => () }
  }
}
