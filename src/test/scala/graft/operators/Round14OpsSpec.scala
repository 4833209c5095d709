package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Invariants for the round-14 batch: the r13 advisor closures
  * (order-sensitive epoch-shuffle head checksum, hillTail degenerate
  * case) plus the round's new operators as they land. Each declared
  * query is also oracle-checked in the driver's DuckDB gate; these pin
  * what a hash compare can't express (driver replays, degenerate
  * cases, bounds). */
class Round14OpsSpec extends SparkTestBase {

  test("epochShuffle: head checksum matches a driver replay and is order-sensitive") {
    val rows = CorpusOps.epochShuffle(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    // driver replay: md5(seed:doc_id) keys, per-shard (k, doc_id) sort,
    // checksum = sum(rn * doc_id) over the first 8 rows of each shard
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val keyed = graft.Tables.documents(spark, sf)
      .select(col("doc_id")).collect().map(_.getLong(0))
      .map(id => (md5hex(s"epoch0:$id"), id))
    val expected = keyed.groupBy(_._1.substring(0, 1)).map { case (sh, xs) =>
      val head = xs.sortBy(identity).take(8)
      sh -> head.zipWithIndex.map { case ((_, id), i) => (i + 1) * id }.sum
    }
    assert(rows == expected)
    // order sensitivity: swapping ANY two distinct head ids changes
    // sum(rn * id) (a plain id-sum would be blind to in-head swaps)
    val someShard = keyed.groupBy(_._1.substring(0, 1)).values
      .find(xs => xs.sortBy(identity).take(8).map(_._2).distinct.length >= 2)
    someShard.foreach { xs =>
      val head = xs.sortBy(identity).take(8).map(_._2)
      val i = head.indexWhere(_ != head.head)
      val swapped = head.updated(0, head(i)).updated(i, head.head)
      def ck(ids: Seq[Long]) =
        ids.zipWithIndex.map { case (id, j) => (j + 1) * id }.sum
      assert(ck(head) != ck(swapped), "checksum blind to an in-head swap")
    }
  }

  test("hillTail: corpus smaller than k+1 yields ZERO rows (degenerate guard)") {
    // k larger than any fixture corpus: the x_(k+1) frame is empty, so
    // the cross join must empty the result in Spark exactly as the
    // oracle's rn = k+1 FILTER (not max(CASE)) does in DuckDB
    val r = StatOps.hillTail(spark, sf, k = 100 * 1000 * 1000)
    assert(r.count() == 0L)
  }

  test("domainCaps: partition of the corpus, cap honored, longest survive") {
    val rows = DomainOps.domainCaps(spark, sf).collect()
    val total = graft.Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == total, "domains must partition")
    rows.foreach { r =>
      assert(r.getLong(2) <= DomainOps.CapDocs, s"${r.getString(0)} over cap")
      assert(r.getLong(2) + r.getLong(3) == r.getLong(1), "kept+dropped!=n")
    }
    // survivor policy replay for the largest domain: the kept set is the
    // top-CapDocs by (n_chars desc, doc_id)
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val md = java.security.MessageDigest.getInstance("MD5")
    // r15 two-tier key replay: mega tier below MegaSharePct, else smalls
    def b(id: Long, src: String): String = {
      val hex = md.digest(s"dom:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      val h = java.lang.Long.parseLong(hex, 16)
      if (h % 100 < DomainOps.MegaSharePct) s"$src.big0"
      else s"$src.${h % DomainOps.SmallBuckets}"
    }
    val byDom = docs.groupBy { case (id, src, _) => b(id, src) }
    val (dom, members) = byDom.maxBy(_._2.length)
    val expectFirst = members.sortBy { case (id, _, n) => (-n, id) }
      .take(DomainOps.CapDocs).map(_._1).min
    val row = rows.find(_.getString(0) == dom).get
    assert(row.getLong(5) == expectFirst, "first_kept mismatch vs replay")
  }

  test("domainMix: shares sum to 1, temperature flattens the mix") {
    val rows = DomainOps.domainMix(spark, sf).collect()
    val raw = rows.map(_.getDouble(3)).sum
    val temp = rows.map(_.getDouble(4)).sum
    assert(math.abs(raw - 1.0) < 0.01 && math.abs(temp - 1.0) < 0.01)
    // τ < 1 boosts below-average domains and shrinks above-average ones:
    // boost must be antitone in n_tokens across the extremes
    val byTok = rows.sortBy(_.getLong(2))
    assert(byTok.head.getDouble(5) >= byTok.last.getDouble(5),
      "smallest domain must get at least the largest domain's boost")
  }

  test("domainBlocklist: kept row equals corpus minus distinct blocked") {
    val rows = DomainOps.domainBlocklist(spark, sf).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val md = java.security.MessageDigest.getInstance("MD5")
    def dom(id: Long, src: String): String = {
      val hex = md.digest(s"dom:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      val h = java.lang.Long.parseLong(hex, 16)
      if (h % 100 < DomainOps.MegaSharePct) s"$src.big0"
      else s"$src.${h % DomainOps.SmallBuckets}"
    }
    def blocked(d: String) = DomainOps.BlockRules.exists {
      case (_, "exact", p)  => d == p
      case (_, "prefix", p) => d.startsWith(p)
      case (_, _, p)        => d.endsWith(p)
    }
    val kept = docs.count { case (id, src) => !blocked(dom(id, src)) }
    assert(rows("__kept__") == kept, s"kept ${rows("__kept__")} != $kept")
    assert(rows("exact:src2.big0") > 0 && rows("suffix:7") > 0,
      "blocklist rules must actually hit the fixture")
  }

  test("curriculum: four ordered non-overlapping stages partitioning the corpus") {
    val rows = DomainOps.curriculum(spark, sf).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3, 4))
    assert(rows.map(_.getLong(1)).sum ==
      graft.Tables.documents(spark, sf).count())
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(4) <= b.getLong(3),
        s"stage ${a.getInt(0)} hi > stage ${b.getInt(0)} lo")
    case _ => ()
    }
  }

  test("bhFdr: p monotone in rank, step-up rejection is downward-closed") {
    val rows = InferenceOps.bhFdr(spark, sf).collect()
    val ps = rows.map(_.getDouble(3))
    assert(ps.zip(ps.tail).forall { case (a, b) => a <= b },
      "p must be nondecreasing in p_rank")
    val rej = rows.map(_.getInt(6))
    // once a row is not rejected, no later (larger-p) row may be rejected
    assert(!rej.zip(rej.tail).exists { case (a, b) => a == 0 && b == 1 },
      "step-up must reject a downward-closed prefix")
    rows.foreach(r => assert(r.getDouble(3) >= 0 && r.getDouble(3) <= 1.0001))
  }

  test("bhFdr: z, p, and the step-up decisions match a driver replay") {
    val rows = InferenceOps.bhFdr(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(2), r.getDouble(3),
        r.getInt(6)))
    val docs = graft.Tables.documents(spark, sf)
      .select(col("source"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val nG = docs.length.toDouble
    val sG = docs.map(_._2).sum.toDouble
    val s2G = docs.map(v => v._2.toDouble * v._2).sum
    val meanG = sG / nG
    val varG = (s2G - sG * meanG) / (nG - 1)
    def erfc(x: Double): Double = {
      val t = 1.0 / (1.0 + 0.3275911 * x)
      ((((1.061405429 * t + -1.453152027) * t + 1.421413741) * t
        + -0.284496736) * t + 0.254829592) * t * math.exp(-(x * x))
    }
    val bySrc = docs.groupBy(_._1).map { case (s, xs) =>
      val n = xs.length.toDouble
      val mean = xs.map(_._2).sum.toDouble / n
      val z = (mean - meanG) / (math.sqrt(varG) / math.sqrt(n))
      (s, z, erfc(math.abs(z) * InferenceOps.InvSqrt2))
    }.toSeq.sortBy(v => (v._3, v._1))
    val m = bySrc.length
    // step-up: largest i with p_(i) <= i*alpha/m rejects ranks 1..i
    val cut = bySrc.zipWithIndex.reverse.find { case ((_, _, p), i) =>
      p <= (i + 1) * InferenceOps.FdrAlpha / m
    }.map(_._2).getOrElse(-1)
    rows.zip(bySrc).zipWithIndex.foreach {
      case (((src, z, p, rej), (s2, z2, p2)), i) =>
        assert(src == s2, s"rank ${i + 1}: $src vs $s2")
        assert(math.abs(z - z2) < 1e-3, s"$src z $z vs $z2")
        assert(math.abs(p - p2) < 1e-5, s"$src p $p vs $p2")
        assert(rej == (if (i <= cut) 1 else 0), s"$src rejected=$rej cut=$cut")
    }
  }

  test("lognormalFit: implied mean overshoots the median-ish exp(mu)") {
    val rows = InferenceOps.lognormalFit(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(3) > 0, "sigma must be positive")
      // e^{mu + s2/2} > e^{mu} (Jensen) and both positive
      assert(r.getDouble(4) > math.exp(r.getDouble(2)) - 1e-6)
      assert(r.getDouble(6) > 0)
    }
  }

  test("hoeffdingBound: band contains the rate and shrinks with n") {
    val rows = InferenceOps.hoeffdingBound(spark, sf).collect()
    rows.foreach { r =>
      val (rate, eps, lo, hi) =
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(lo <= rate && rate <= hi)
      assert(lo >= 0 && hi <= 1)
      val expected = math.sqrt(
        InferenceOps.Ln2OverDelta / (2.0 * r.getLong(1)))
      assert(math.abs(eps - expected) < 1e-3)
    }
  }

  test("ljungBox: matches a driver replay of the ACF sum") {
    val r = SeriesOps.ljungBox(spark, sf).collect()
    assert(r.length == 1)
    val xs = graft.Tables.events(spark, sf)
      .groupBy(date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).cast("double").as("x"))
      .orderBy(col("hr")).collect().map(_.getDouble(1))
    val n = xs.length
    val m = xs.sum / n
    val d = xs.map(_ - m)
    val den = d.map(v => v * v).sum
    val q = n.toDouble * (n + 2) * (1 to SeriesOps.LjungBoxLags).map { k =>
      val rk = d.drop(k).zip(d.dropRight(k)).map { case (a, b) => a * b }
        .sum / den
      rk * rk / (n - k)
    }.sum
    assert(math.abs(r(0).getDouble(2) - q) < 1e-3, s"${r(0).getDouble(2)} vs $q")
    assert(r(0).getLong(0) == n)
  }

  test("adf and durbinWatson: replay the daily OLS statistics") {
    val ys = graft.Tables.events(spark, sf)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(col("value")).as("y"))
      .orderBy(col("day")).collect().map(_.getDouble(1))
    // ADF: regress dy on ylag
    val dy = ys.tail.zip(ys.dropRight(1)).map { case (a, b) => a - b }
    val ylag = ys.dropRight(1)
    val n = dy.length.toDouble
    val (mx, my) = (ylag.sum / n, dy.sum / n)
    val sxx = ylag.map(v => v * v).sum - n * mx * mx
    val sxy = ylag.zip(dy).map { case (a, b) => a * b }.sum - n * mx * my
    val beta = sxy / sxx
    val adf = SeriesOps.adfTest(spark, sf).collect()(0)
    assert(math.abs(adf.getDouble(1) - beta) < 1e-3)
    // DW: trend residuals
    val t = ys.indices.map(_.toDouble)
    val nn = ys.length.toDouble
    val (mt, myy) = (t.sum / nn, ys.sum / nn)
    val b = (t.zip(ys).map { case (a, c) => a * c }.sum - nn * mt * myy) /
      (t.map(v => v * v).sum - nn * mt * mt)
    val e = t.zip(ys).map { case (ti, yi) => yi - (myy + b * (ti - mt)) }
    val dw = e.tail.zip(e.dropRight(1))
      .map { case (a, c) => (a - c) * (a - c) }.sum / e.map(v => v * v).sum
    val got = SeriesOps.durbinWatson(spark, sf).collect()(0)
    assert(math.abs(got.getDouble(1) - dw) < 1e-3)
    assert(got.getDouble(1) > 0 && got.getDouble(1) < 4)
  }

  test("varianceRatio: replay; periodogram: K nonneg powers") {
    val ys = graft.Tables.events(spark, sf)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(col("value")).as("y"))
      .orderBy(col("day")).collect().map(_.getDouble(1))
    def varOf(xs: Array[Double]): Double = {
      val n = xs.length.toDouble
      val m = xs.sum / n
      (xs.map(v => v * v).sum - n * m * m) / (n - 1)
    }
    val d1 = ys.tail.zip(ys.dropRight(1)).map { case (a, b) => a - b }
    val dq = ys.drop(SeriesOps.VrPeriod)
      .zip(ys.dropRight(SeriesOps.VrPeriod)).map { case (a, b) => a - b }
    val vr = varOf(dq) / (SeriesOps.VrPeriod * varOf(d1))
    val got = SeriesOps.varianceRatio(spark, sf).collect()(0)
    assert(math.abs(got.getDouble(4) - vr) < 1e-3)
    val pg = SeriesOps.periodogram(spark, sf).collect()
    assert(pg.length == SeriesOps.PeriodogramK)
    pg.foreach(r => assert(r.getDouble(2) >= 0))
  }

  test("sprtSharded: bitwise-identical decisions to the declared walk") {
    val a = StatOps.sprt(spark, sf).collect().map(_.toString).toSeq
    val b = StatOps.sprtSharded(spark, sf).collect().map(_.toString).toSeq
    assert(a == b, s"declared $a vs sharded $b")
  }

  test("winsorizeApprox/madOutlierApprox: sketch cuts track the exact forms") {
    // Each sketch cut's VALUE must land inside the exact-percentile band
    // at rank q ± ε (ε = the merged GK contract, SketchRankEps, widened
    // by one row for interpolation). The cuts are computed here the way
    // the sketch primaries (winsorizeSketch, madOutlierSketch) compute
    // them.
    val li = graft.Tables.lineitem(spark, sf)
    val n = li.count().toDouble
    val eps = AnalyticsOps.SketchRankEps + 1.5 / n
    def band(colName: String, q: Double, of: org.apache.spark.sql.DataFrame)
        : (Double, Double) = {
      val r = of.agg(expr(
        s"percentile($colName, array(${q - eps}, ${q + eps}))")).collect()(0)
      val s = r.getSeq[Double](0); (s(0), s(1))
    }
    val (lo1, lo2) = band("l_extendedprice", 0.05, li)
    val (hi1, hi2) = band("l_extendedprice", 0.95, li)
    val ab = li.agg(
      expr("approx_percentile(l_extendedprice, 0.05, 10000)"),
      expr("approx_percentile(l_extendedprice, 0.95, 10000)")).collect()(0)
    val (loA, hiA) = (ab.getDouble(0), ab.getDouble(1))
    assert(loA >= lo1 && loA <= lo2, s"lo cut $loA outside [$lo1,$lo2]")
    assert(hiA >= hi1 && hiA <= hi2, s"hi cut $hiA outside [$hi1,$hi2]")
    // MAD: the sketch MAD's value must land in the exact-percentile
    // band of the SAME adev distribution it is drawn from (adev is
    // defined by the sketch median)
    val medA = li.agg(
      expr("approx_percentile(l_extendedprice, 0.5, 10000)"))
      .collect()(0).getDouble(0)
    val dev = li.select(
      abs(col("l_extendedprice") - lit(medA)).as("adev"))
    val (mad1, mad2) = band("adev", 0.5, dev)
    val m = dev.agg(expr("approx_percentile(adev, 0.5, 10000)"))
      .collect()(0).getDouble(0)
    assert(m >= mad1 - 1e-4 && m <= mad2 + 1e-4,
      s"mad $m outside rank band [$mad1,$mad2]")
  }

  test("grubbs: argmax deviation survives BIGINT-overflow-scale products") {
    // the dev_n product rides DECIMAL(38,0): cents ~ 5.6e7 at max and
    // n ~ 1.5e11 at 100 TB posture put cents*n near Long.MAX; assert the
    // plan's dev_n column is a decimal, not a long
    val df = StatOps.grubbs(spark, sf)
    assert(df.collect().length == 1)
    val planStr = df.queryExecution.analyzed.toString
    assert(!planStr.contains("dev_n: bigint"),
      "dev_n must not be a bigint product")
  }
}
