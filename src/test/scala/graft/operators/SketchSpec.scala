package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkTestBase, Tables}

class SketchSpec extends SparkTestBase {

  test("HLL distinct counts within 5% of exact; approx median within 2%") {
    val exact = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("parts"),
        expr("percentile(l_extendedprice, 0.5)").as("median"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    SketchOps.approxStats(spark, sf).collect().foreach { r =>
      val (parts, median) = exact(r.getString(0))
      val apxParts = r.getLong(1)
      val apxMedian = r.getDouble(3)
      assert(math.abs(apxParts - parts).toDouble / parts < 0.05,
        s"flag ${r.getString(0)}: $apxParts vs $parts")
      assert(math.abs(apxMedian - median) / median < 0.02,
        s"flag ${r.getString(0)}: $apxMedian vs $median")
    }
  }

  test("hllRollup: union of per-group sketches equals the direct global sketch") {
    val out = SketchOps.hllRollup(spark, sf)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // the ALL row came from sketch UNION; recompute with one direct global
    // sketch over the raw column — estimates must be identical, because
    // union is exact on the sketch lattice (not merely close)
    val direct = Tables.orders(spark, sf)
      .agg(hll_sketch_estimate(hll_sketch_agg(col("o_custkey"))).as("n"))
      .head().getLong(0)
    assert(out("ALL")._1 == direct, s"${out("ALL")._1} vs $direct")
    // and each estimate is within 5% of its exact distinct count
    val exact = Tables.orders(spark, sf)
      .groupBy(col("o_orderstatus"))
      .agg(countDistinct(col("o_custkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      assert(math.abs(out(k)._1 - n).toDouble / n < 0.05, s"$k: ${out(k)._1} vs $n")
    }
    assert(out("ALL")._2 == Tables.orders(spark, sf).count())
  }

  test("tolerance audits: exact columns match recomputation, all bound booleans true") {
    // the declared q_approx_stats/q_hll_rollup forms (round 11): the
    // booleans are the tolerance gate the DuckDB oracle states as TRUE —
    // pin here that they hold, and that the exact columns really are the
    // exact aggregates (not estimates in disguise)
    val a = SketchOps.approxStatsAudit(spark, sf).collect()
    val exactParts = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("p"),
        countDistinct(col("l_suppkey")).as("s"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    a.foreach { r =>
      assert((r.getLong(2), r.getLong(3)) == exactParts(r.getString(0)))
      assert(r.getBoolean(4) && r.getBoolean(5) && r.getBoolean(6),
        s"tolerance audit failed for flag ${r.getString(0)}: $r")
    }
    val h = SketchOps.hllRollupAudit(spark, sf).collect()
    val exactCusts = Tables.orders(spark, sf)
      .groupBy(col("o_orderstatus"))
      .agg(countDistinct(col("o_custkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap +
      ("ALL" -> Tables.orders(spark, sf).select("o_custkey").distinct().count())
    h.foreach { r =>
      assert(r.getLong(2) == exactCusts(r.getString(0)))
      assert(r.getBoolean(3), s"hll estimate out of tolerance: $r")
    }
    assert(h.map(_.getString(0)).contains("ALL"))
  }

  test("sketch results are stable across partitionings (merge commutativity)") {
    val a = SketchOps.approxStats(spark, sf).collect()
    val li = Tables.lineitem(spark, sf).repartition(16)
    val b = li.groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey"), rsd = 0.02).as("apx_parts"))
      .orderBy(col("l_returnflag")).collect()
    assert(a.map(r => (r.getString(0), r.getLong(1)))
      .sameElements(b.map(r => (r.getString(0), r.getLong(1)))))
  }

  test("heavyHitters equals the exact frequency table when nothing purges") {
    import org.apache.spark.sql.functions._
    val got = SketchOps.heavyHitters(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    // exact reference from the same tokenization
    val exact = graft.Tables.documents(spark, sf)
      .select(explode(graft.functions.TextFunctions.tokensLower(col("text")))
        .as("tok"))
      .groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    got.foreach { case (tok, est, lb, ub) =>
      assert(est == exact(tok) && lb == est && ub == est,
        s"bounds did not collapse for $tok: ($est, $lb, $ub) vs ${exact(tok)}")
    }
    // top-k ordering matches the exact ordering
    val expectTop = exact.toSeq.sortBy { case (t, n) => (-n, t) }
      .take(got.length).map(_._1)
    assert(got.map(_._1).toSeq == expectTop)
  }

  test("freq sketch purge regime: bounds contain true counts, no false negatives") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.GraftColumnBridge
    // heavy-tail stream: 3 heavy items + 5000 singletons, tiny map
    val rows = (Seq.fill(400)("hot1") ++ Seq.fill(300)("hot2")
      ++ Seq.fill(200)("hot3") ++ (1 to 5000).map(i => s"cold$i"))
    val freq = GraftColumnBridge.toColumn(
      graft.functions.expressions.FreqItems(
        GraftColumnBridge.toExpression(col("tok")), 64)
        .toAggregateExpression())
    val out = rows.toDF("tok").repartition(8)
      .agg(freq.as("items"))
      .select(explode(col("items")).as("f"))
      .select(col("f.item"), col("f.est"), col("f.lb"), col("f.ub"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val truth = Map("hot1" -> 400L, "hot2" -> 300L, "hot3" -> 200L)
    // every true heavy item is present (NO_FALSE_NEGATIVES) with bounds
    // containing its true count
    truth.foreach { case (item, n) =>
      val hit = out.find(_._1 == item)
      assert(hit.isDefined, s"missing heavy hitter $item in $out")
      val (_, est, lb, ub) = hit.get
      assert(lb <= n && n <= ub && lb <= est && est <= ub,
        s"bounds violated for $item: ($est, $lb, $ub) truth $n")
    }
  }

  test("thetaAudience equals exact pairwise set algebra in the no-purge regime") {
    val got = SketchOps.thetaAudience(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    // exact reference recomputed from distinct (type, user) pairs
    val tu = Tables.events(spark, sf)
      .select(col("event_type"), col("user_id")).distinct()
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toSet }
    val types = tu.keys.toSeq.sorted
    for (a <- types; b <- types if a < b) {
      val (sa, sb) = (tu(a), tu(b))
      val inter = (sa & sb).size.toLong
      val expect = (inter, (sa.size - inter), (sb.size - inter),
        (sa | sb).size.toLong)
      assert(got((a, b)) == expect, s"($a,$b): ${got((a, b))} vs $expect")
    }
    assert(got.size == types.combinations(2).size)
  }

  test("thetaAudience equals exact set algebra on partly overlapping audiences") {
    import spark.implicits._
    // every pair overlaps differently: nested, partial, disjoint, and
    // unequal sizes, so a union read as an intersection or a difference
    // with its operands swapped changes some row
    val audiences = Map(
      "a" -> (1L to 40L).toSet,
      "b" -> (25L to 90L).toSet,
      "c" -> ((1L to 10L) ++ (80L to 100L)).toSet,
      "d" -> (200L to 205L).toSet,
      "e" -> (30L to 35L).toSet)
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // each user appears two or three times under a type
    val rows = audiences.toSeq.flatMap { case (t, us) =>
      us.toSeq.flatMap(u => Seq.fill(2 + (u % 2).toInt)((ts, t, u)))
    }
    withTempDir("graft-theta") { dir =>
      rows.toDF("ts", "event_type", "user_id").repartition(3)
        .write.parquet(s"$dir/events.parquet")
      val got = SketchOps.thetaAudience(spark, dir.toString).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
        .toMap
      val types = audiences.keys.toSeq.sorted
      val want = (for (a <- types; b <- types if a < b) yield {
        val (sa, sb) = (audiences(a), audiences(b))
        (a, b) -> (((sa & sb).size.toLong, (sa -- sb).size.toLong,
          (sb -- sa).size.toLong, (sa | sb).size.toLong))
      }).toMap
      assert(got == want)
      assert(want.values.exists { case (i, _, _, u) => i > 0 && i < u })
    }
  }

  test("theta sketches are partition-order stable in the exact regime") {
    def estimatesOf(parts: Int): Array[Long] =
      Tables.events(spark, sf).repartition(parts)
        .groupBy(col("event_type"))
        .agg(theta_sketch_estimate(theta_sketch_agg(col("user_id"))).as("n"))
        .orderBy(col("event_type"))
        .collect().map(_.getLong(1))
    assert(estimatesOf(2).sameElements(estimatesOf(16)))
  }

  test("theta estimation regime: estimates track truth within sketch error") {
    import spark.implicits._
    // two overlapping 6k-element sets through a 2^8-entry sketch — deep in
    // estimation mode (purged well below the distinct count)
    val rows = ((1 to 6000).map(i => ("a", i.toLong))
      ++ (2001 to 8000).map(i => ("b", i.toLong)))
    val perSet = rows.toDF("s", "id").repartition(8)
      .groupBy(col("s")).agg(theta_sketch_agg(col("id"), 8).as("sk"))
    val st = perSet.as("a").join(perSet.as("b"),
        col("a.s") < col("b.s"))
      .select(
        theta_sketch_estimate(theta_intersection(col("a.sk"), col("b.sk"))),
        theta_sketch_estimate(theta_union(col("a.sk"), col("b.sk"))))
      .head()
    val (inter, union) = (st.getLong(0), st.getLong(1))
    // truth: |A∩B| = 4000, |A∪B| = 10000; 2^8 nominal entries give ~1/16
    // relative error on the union and larger on the intersection — assert
    // loose 3σ-ish envelopes, not exactness
    assert(math.abs(union - 10000) < 3000, s"union est $union")
    assert(math.abs(inter - 4000) < 2000, s"inter est $inter")
    assert(inter < union)
  }
}
