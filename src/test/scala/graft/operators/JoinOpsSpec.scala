package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkTestBase, Tables}

class JoinOpsSpec extends SparkTestBase {

  test("joinEnrich preserves all orders (FK integrity, inner joins)") {
    assert(JoinOps.joinEnrich(spark, sf).count()
      == Tables.orders(spark, sf).count())
  }

  test("joinEnrich plans broadcast joins for all dimension sides") {
    val plan = JoinOps.joinEnrich(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("semi + anti on the same key partition the left side") {
    val semi = JoinOps.semiJoin(spark, sf).count()
    val lineitemHi = Tables.lineitem(spark, sf)
      .filter(col("l_quantity") >= 45)
    val anti = Tables.orders(spark, sf).join(
      lineitemHi,
      col("o_orderkey") === col("l_orderkey"), "left_anti").count()
    assert(semi + anti == Tables.orders(spark, sf).count())
  }

  test("topK: at most 5 per group, descending within group") {
    val rows = JoinOps.topK(spark, sf).collect()
    val byGroup = rows.groupBy(_.getAs[String]("o_orderpriority"))
    byGroup.values.foreach { g =>
      assert(g.length <= 5)
      val prices = g.sortBy(_.getAs[Int]("rn")).map(_.getAs[Double]("o_totalprice"))
      assert(prices.zip(prices.tail).forall { case (a, b) => a >= b })
    }
  }

  test("outerJoin covers the union of both key sets exactly once") {
    val customer = Tables.customer(spark, sf)
    val orders = Tables.orders(spark, sf)
    val expected = customer.filter(col("c_acctbal") > 5000).select(col("c_custkey"))
      .union(orders.select(col("o_custkey"))).distinct().count()
    val out = JoinOps.outerJoin(spark, sf)
    assert(out.count() == expected)
    assert(out.select(col("custkey")).distinct().count() == expected)
    assert(out.filter(col("custkey").isNull).count() == 0)
    // rows with null seg are exactly the low-balance customers with orders
    val lowBalWithOrders = customer.filter(col("c_acctbal") <= 5000)
      .join(orders, customer("c_custkey") === orders("o_custkey"), "left_semi")
      .count()
    assert(out.filter(col("seg").isNull).count() == lowBalWithOrders)
  }

  test("joinAgg revenue is positive for every nation present") {
    val rows = JoinOps.joinAgg(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Double]("revenue") > 0))
  }

  test("bloom semi-join reduction equals the plain semi join; probe rides the scan stage") {
    val out = JoinOps.bloomSemiJoinAgg(spark, sf)
    val urgent = graft.Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey"))
    val li = graft.Tables.lineitem(spark, sf)
    val plain = li
      .join(urgent, li("l_orderkey") === urgent("o_orderkey"), "left_semi")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(sum(col("l_extendedprice")), 4).as("total"))
      .orderBy(col("l_returnflag"))
    assert(out.collect().toSeq == plain.collect().toSeq)
    // the bloom probe must filter the fact side BELOW the join, i.e. appear
    // in the plan at all (scan stage) — the join then only sees survivors
    val lines = out.queryExecution.sparkPlan.toString.linesIterator.toVector
    val joinLine = lines.indexWhere(l =>
      l.contains("SortMergeJoin") || l.contains("BroadcastHashJoin")
        || l.contains("ShuffledHashJoin"))
    val probeLine = lines.indexWhere(_.contains("bloom_might_contain"))
    assert(joinLine >= 0 && probeLine > joinLine,
      s"bloom probe should sit below the join: join@$joinLine probe@$probeLine\n"
        + lines.take(40).mkString("\n"))
  }

  test("cardEst: exact pair counts replay; estimate is exact when keys are uniform") {
    val out = JoinOps.cardEst(spark, sf).collect()
    val keyCounts = graft.Tables.events(spark, sf)
      .groupBy(col("user_id")).count().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byBucket = keyCounts.groupBy { case (u, _) => ((u % 32) + 32) % 32 }
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    out.foreach { r =>
      val (b, nRows, nKeys, exact) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val cs = byBucket(b).map(_._2)
      assert(nRows == cs.sum && nKeys == cs.length.toLong)
      assert(exact == cs.map(c => c * c).sum, s"bucket $b exact pairs")
      val est = nRows.toDouble * nRows / nKeys
      assert(r.getDouble(4) == r4(est), s"bucket $b est")
      assert(r.getDouble(5) == r4(exact / est), s"bucket $b ratio")
      // Cauchy-Schwarz: the uniform estimate is a LOWER bound on Σc²
      assert(exact.toDouble >= est - 1e-6, s"bucket $b bound")
    }
    // crafted uniform keys: estimate must be exact (err_ratio 1.0)
    import spark.implicits._
    withTempDir("graft-card") { dir =>
      val tmp = dir.toString
      (1L to 64L).flatMap(u => Seq.fill(3)(u))
        .map(u => (u, u)).toDF("event_id", "user_id")
        .withColumn("ts",
          lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
        .write.parquet(s"$tmp/events.parquet")
      val uni = JoinOps.cardEst(spark, tmp).collect()
      uni.foreach { r =>
        assert(r.getDouble(5) == 1.0, s"uniform keys must estimate exactly: $r")
      }
    }
  }

  test("skewAudit reconciles with a driver-local key histogram") {
    val out = JoinOps.skewAudit(spark, sf).collect()
    val keyCounts = graft.Tables.events(spark, sf)
      .groupBy(col("user_id")).count().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val total = keyCounts.map(_._2).sum
    val byBucket = keyCounts.groupBy { case (u, _) =>
      ((u % 32) + 32) % 32 }
    assert(out.map(_.getLong(1)).sum == total, "bucket rows must sum to table rows")
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    out.foreach { r =>
      val (b, nRows, nKeys, maxKey) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val exp = byBucket(b)
      assert(nRows == exp.map(_._2).sum, s"bucket $b rows")
      assert(nKeys == exp.length.toLong, s"bucket $b keys")
      assert(maxKey == exp.map(_._2).max, s"bucket $b max key")
      assert(r.getDouble(4) == r4(nRows.toDouble / total), s"bucket $b share")
      assert(r.getDouble(6) == r4(maxKey.toDouble / nRows),
        s"bucket $b single_key_share")
    }
    // skew_factor is share normalized by the NON-EMPTY bucket count
    val nBuckets = out.length
    out.foreach { r =>
      assert(r.getDouble(5) ==
        r4(r.getLong(1).toDouble / (total.toDouble / nBuckets)),
        s"bucket ${r.getLong(0)} skew_factor")
    }
  }

  test("tpchQ12 line classes partition the windowed late joins") {
    val out = JoinOps.tpchQ12(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // every windowed late line is classified exactly once
    val total = JoinOps.tpchQ12(spark, sf)
      .agg(sum(col("high_line_count") + col("low_line_count"))).head.getLong(0)
    val direct = graft.Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(graft.Tables.orders(spark, sf),
        col("l_orderkey") === col("o_orderkey")
          && col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"))
      .count()
    assert(total == direct, s"$total vs $direct")
    assert(out.nonEmpty && out.values.forall(v => v._1 >= 0 && v._2 >= 0))
  }

  test("tpchQ21 blames exactly the sole-late suppliers of shared orders") {
    val out = JoinOps.tpchQ21(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // driver recompute of the EXISTS / NOT-EXISTS composite
    val lines = graft.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate")).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.get(2) match { case t: java.sql.Timestamp => t.toLocalDateTime
                         case l: java.time.LocalDateTime => l }))
    val odate = graft.Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderdate")).collect()
      .map(r => r.getLong(0) ->
        (r.get(1) match { case t: java.sql.Timestamp => t.toLocalDateTime
                          case l: java.time.LocalDateTime => l })).toMap
    val late = lines.filter { case (ok, _, sd) =>
      odate.contains(ok) && sd.isAfter(odate(ok).plusDays(60)) }
      .map(l => (l._1, l._2)).distinct
    val suppsPerOrder = lines.map(l => (l._1, l._2)).distinct
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val latePerOrder = late.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val blamed = late.filter { case (ok, sk) =>
      suppsPerOrder(ok).exists(_ != sk) && latePerOrder(ok).forall(_ == sk) }
    val names = graft.Tables.supplier(spark, sf)
      .select(col("s_suppkey"), col("s_name")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expTop = blamed.groupBy(p => names(p._2)).view.mapValues(_.length.toLong)
      .toSeq.sortBy { case (n, c) => (-c, n) }.take(20).toMap
    assert(out == expTop, s"got $out expected $expTop")
  }

  test("tpchQ4 equals a driver recompute of the correlated EXISTS") {
    val out = JoinOps.tpchQ4(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def ldt(r: org.apache.spark.sql.Row, i: Int): java.time.LocalDateTime =
      r.get(i) match {
        case t: java.sql.Timestamp => t.toLocalDateTime
        case l: java.time.LocalDateTime => l
      }
    val lines = graft.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_shipdate")).collect()
      .groupBy(_.getLong(0))
    val expected = graft.Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .collect()
      .map(r => (r.getLong(0), ldt(r, 1), r.getString(2)))
      .filter { case (_, d, _) =>
        !d.isBefore(java.time.LocalDateTime.parse("1995-07-01T00:00")) &&
          d.isBefore(java.time.LocalDateTime.parse("1995-10-01T00:00")) }
      .filter { case (ok, d, _) =>
        lines.getOrElse(ok, Array.empty[org.apache.spark.sql.Row])
          .exists(l => ldt(l, 1).isAfter(d)) }
      .groupBy(_._3).view.mapValues(_.length.toLong).toMap
    assert(out == expected, s"got $out expected $expected")
    assert(out.values.sum > 0, "window/predicate selected no orders")
  }
}
