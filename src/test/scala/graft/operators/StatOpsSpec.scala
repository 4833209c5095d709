package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Ground-truth tests for the two-sample tests (q_ks_test, q_mannwhitney)
  * and the SCD-2 dimension build (q_scd2), pinned to hand-computable
  * crafted fixtures plus definitional recomputation on the real fixture. */
class StatOpsSpec extends SparkTestBase {
  import spark.implicits._

  /** Run `body` on a temp test directory whose documents table holds
    * `rows` as (doc_id, source, n_chars). */
  private def withDocs[T](rows: Seq[(Long, String, Long)])(body: String => T): T =
    withTempDir("graft-stat") { dir =>
      val tmp = dir.toString
      rows.toDF("doc_id", "source", "n_chars")
        .withColumn("text", lit("x")).withColumn("lang", lit("en"))
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      body(tmp)
    }

  test("ksTest matches the definitional ECDF max-gap on a crafted table") {
    // source a: lengths 1,2,3 ; source b: lengths 3,4,5,6
    withDocs(Seq(
      (1L, "a", 1L), (2L, "a", 2L), (3L, "a", 3L),
      (4L, "b", 3L), (5L, "b", 4L), (6L, "b", 5L), (7L, "b", 6L))) { tmp =>
      val out = StatOps.ksTest(spark, tmp).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
      // for source a vs rest(b): max gap at v=3 (F_a=1, F_b=1/4) -> D=0.75;
      // the KS statistic is symmetric under swapping the samples
      assert(out == Seq(("a", 3L, 0.75), ("b", 4L, 0.75)), s"got $out")
    }
  }

  test("mannWhitney matches hand-computed midranks on a crafted table") {
    // combined sorted: 1,2,3,3,4,5,6 -> midranks 1,2,3.5,3.5,5,6,7
    // source a = {1,2,3}: R=6.5, U = 6.5 - 3*4/2 = 0.5
    withDocs(Seq(
      (1L, "a", 1L), (2L, "a", 2L), (3L, "a", 3L),
      (4L, "b", 3L), (5L, "b", 4L), (6L, "b", 5L), (7L, "b", 6L))) { tmp =>
      val out = StatOps.mannWhitney(spark, tmp).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      val a = out.find(_._1 == "a").get
      assert(a._3 == 0.5, s"U_a = ${a._3}")
      // z = (0.5 - 6)/sqrt(12/12*(8 - 6/42)) = -5.5/sqrt(7.857142857) = -1.9621
      assert(math.abs(a._4 - -1.9621) < 1e-4, s"z_a = ${a._4}")
      // U_a + U_b = n_a * n_b
      val b = out.find(_._1 == "b").get
      assert(a._3 + b._3 == 12.0)
    }
  }

  test("ks/mw invariants on the real fixture: bounds and U symmetry") {
    val ks = StatOps.ksTest(spark, sf).collect()
    assert(ks.nonEmpty)
    ks.foreach(r => assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0))
    val mw = StatOps.mannWhitney(spark, sf).collect()
    val n = mw.map(_.getLong(1)).sum
    mw.foreach { r =>
      val (ns, u) = (r.getLong(1), r.getDouble(2))
      assert(u >= 0.0 && u <= ns.toDouble * (n - ns), s"U out of range: $r")
    }
  }

  test("scd2 collapses runs and closes bounds on a crafted change stream") {
    withTempDir("graft-scd2") { dir =>
      val tmp = dir.toString
      Seq(
        (1L, 1L, "view", 1000000L), (2L, 1L, "view", 2000000L),
        (3L, 1L, "click", 3000000L), (4L, 1L, "view", 4000000L),
        (5L, 2L, "signup", 1500000L))
        .toDF("event_id", "user_id", "event_type", "us")
        .select(col("event_id"), col("user_id"), col("event_type"),
          timestamp_micros(col("us")).as("ts"),
          lit(0.0).as("value"), lit("{}").as("props"))
        .write.mode("overwrite").parquet(s"$tmp/events.parquet")
      val out = RelationalOps.scd2(spark, tmp).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
          r.getLong(3), if (r.isNullAt(4)) -1L else r.getLong(4), r.getInt(5)))
      assert(out.toSeq == Seq(
        (1L, 1, "view", 1000000L, 3000000L, 0),
        (1L, 2, "click", 3000000L, 4000000L, 0),
        (1L, 3, "view", 4000000L, -1L, 1),
        (2L, 1, "signup", 1500000L, -1L, 1)), s"got ${out.toSeq}")
    }
  }

  test("abTest matches a hand-computed two-proportion z on crafted events") {
    withTempDir("graft-ab") { dir =>
      val tmp = dir.toString
      // users 0,2 (variant A): first events purchase, view -> conv_a=1/2
      // users 1,3 (variant B): first events view, view   -> conv_b=0/2
      Seq(
        (1L, 0L, "purchase", 1000000L), (2L, 0L, "view", 2000000L),
        (3L, 2L, "view", 1000000L), (4L, 2L, "purchase", 2000000L),
        (5L, 1L, "view", 1000000L), (6L, 3L, "view", 1000000L))
        .toDF("event_id", "user_id", "event_type", "us")
        .select(col("event_id"), col("user_id"), col("event_type"),
          timestamp_micros(col("us")).as("ts"),
          lit(0.0).as("value"), lit("{}").as("props"))
        .write.mode("overwrite").parquet(s"$tmp/events.parquet")
      val r = StatOps.abTest(spark, tmp).collect().head
      assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
        == ((2L, 2L, 1L, 0L)))
      assert(r.getDouble(4) == 0.5 && r.getDouble(5) == 0.0)
      // p=1/4, z = 0.5 / sqrt(0.25*0.75*(0.5+0.5)) = 1.1547
      assert(math.abs(r.getDouble(6) - 1.1547) < 1e-4, s"z=${r.getDouble(6)}")
    }
  }

  test("bootstrap: thresholds well-formed, CI brackets the point mean") {
    val hx = StatOps.PoissonCdfHex
    assert(hx.length == 7 && hx == hx.sorted && hx.distinct == hx)
    // cdf(1) for Poisson(1) is 0.7357...: the k=1 threshold in hex
    assert(hx(1) == f"${math.floor(0.7357588823428847 * (1 << 24)).toLong}%06x")
    val out = StatOps.bootstrapMean(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (lo, hi, mean) = (r.getDouble(3), r.getDouble(4), r.getDouble(2))
      assert(lo <= hi, s"inverted CI: $r")
      // the bootstrap CI must bracket the point estimate for any
      // reasonably-sized group (n >= 5 in the smallest fixture lang)
      assert(lo <= mean && mean <= hi, s"CI misses the mean: $r")
    }
    val nDocs = graft.Tables.documents(spark, sf).count()
    assert(out.map(_.getLong(1)).sum == nDocs)
  }

  test("anova matches the hand-computed F on a crafted two-group table") {
    withTempDir("graft-anova") { dir =>
      val tmp = dir.toString
      // group a: 1,2,3 (mean 2); group b: 5,6,7 (mean 6); grand mean 4
      // SSB = 3*4 + 3*4 = 24, SSW = 2 + 2 = 4, F = (24/1)/(4/4) = 24
      Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "a", 3.0),
        (4L, "b", 5.0), (5L, "b", 6.0), (6L, "b", 7.0))
        .toDF("event_id", "event_type", "value")
        .select(col("event_id"), lit(1L).as("user_id"), col("event_type"),
          timestamp_micros(col("event_id") * 1000000).as("ts"),
          col("value"), lit("{}").as("props"))
        .write.mode("overwrite").parquet(s"$tmp/events.parquet")
      val r = StatOps.anova(spark, tmp).collect().head
      assert(r.getInt(0) == 2 && r.getLong(1) == 6L)
      assert(r.getDouble(2) == 24.0, s"F=${r.getDouble(2)}")
    }
  }

  test("kAnonymity reports exactly the sub-k classes") {
    val out = StatOps.kAnonymity(spark, sf).collect()
    // recompute class sizes directly
    val sizes = graft.Tables.customer(spark, sf)
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long"))
      .count().collect()
    val expectViolations = sizes.count(_.getLong(3) < 5)
    assert(out.length == expectViolations)
    out.foreach(r => assert(r.getLong(3) < 5 && r.getLong(3) >= 1))
  }

  test("dpNoisyCounts: noise is bounded, nonzero, and reproducible") {
    val a = StatOps.dpNoisyCounts(spark, sf).collect()
    val b = StatOps.dpNoisyCounts(spark, sf).collect()
    assert(a.sameElements(b), "noise draw not reproducible")
    a.foreach { r =>
      val noise = r.getDouble(2) - r.getLong(1)
      // Laplace(b=1) from a 24-bit uniform: |noise| <= ln(16^6) ~ 16.6
      assert(math.abs(noise) <= 17.0, s"noise out of range: $r")
      assert(noise != 0.0, s"degenerate zero noise: $r")
    }
  }

  test("holtSmooth matches the hand-computed recurrence on a crafted series") {
    withTempDir("graft-holt") { dir =>
      val tmp = dir.toString
      // one type, three hours with totals 10, 12, 14:
      // l0=10 b0=0; x=12: l=11, b=0.3; x=14: l=12.65, b=0.705; fc=13.355
      Seq((1L, 1L, "click", 0L, 10.0), (2L, 1L, "click", 3600000000L, 12.0),
        (3L, 2L, "click", 7200000000L, 14.0))
        .toDF("event_id", "user_id", "event_type", "us", "value")
        .select(col("event_id"), col("user_id"), col("event_type"),
          timestamp_micros(col("us")).as("ts"), col("value"),
          lit("{}").as("props"))
        .write.mode("overwrite").parquet(s"$tmp/events.parquet")
      val r = graft.operators.EventOps.holtSmooth(spark, tmp).collect().head
      assert(r.getString(0) == "click" && r.getInt(1) == 3)
      assert(r.getDouble(2) == 12.65 && r.getDouble(3) == 0.705
        && r.getDouble(4) == 13.355, s"got $r")
    }
  }

  test("lDiversity flags homogeneous QI classes on a crafted customer set") {
    // (1,A): bands {0,0,2} -> 2 distinct < 3 -> not diverse
    // (1,B): bands {0,1,2} -> 3 distinct     -> diverse
    withTempDir("graft-ldiv") { dir =>
      val tmp = dir.toString
      Seq(
        (1L, "c1", 1, 100.0, "A"), (2L, "c2", 1, 200.0, "A"),
        (3L, "c3", 1, 2100.0, "A"),
        (4L, "c4", 1, 0.0, "B"), (5L, "c5", 1, 1000.0, "B"),
        (6L, "c6", 1, 2000.0, "B"))
        .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
        .write.mode("overwrite").parquet(s"$tmp/customer.parquet")
      val out = StatOps.lDiversity(spark, tmp).collect()
        .map(r => (r.getInt(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
      assert(out((1, "A")) == ((3L, 2L, false)), s"got ${out((1, "A"))}")
      assert(out((1, "B")) == ((3L, 3L, true)), s"got ${out((1, "B"))}")
    }
  }

  test("entropyLDiversity matches hand-computed entropy and lines up with " +
      "the distinct-count audit") {
    val out = StatOps.entropyLDiversity(spark, sf).collect()
    // recompute H = ln N − (Σ n·ln n)/N from raw band counts per QI group
    val bands = graft.Tables.customer(spark, sf)
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000))
      .count().collect()
      .groupBy(r => (r.getInt(0), r.getString(1)))
      .view.mapValues(_.map(_.getLong(3))).toMap
    assert(out.nonEmpty)
    out.foreach { r =>
      val key = (r.getInt(0), r.getString(1))
      val ns = bands(key)
      val n = ns.sum.toDouble
      val h = math.log(n) - ns.map(x => x * math.log(x.toDouble)).sum / n
      assert(r.getLong(2) == ns.sum && r.getLong(3) == ns.length.toLong, s"$r")
      assert(math.abs(r.getDouble(4) - h) < 5e-4, s"entropy mismatch: $r vs $h")
      assert(r.getBoolean(5) == (ns.length < 3), s"$r")
      // entropy l-diversity is the stricter criterion: H ≤ ln(l_distinct)
      // (5e-5 headroom: the output is round-4ed, and a uniform group hits
      // the bound exactly)
      assert(r.getDouble(4) <= math.log(ns.length.toDouble) + 5e-5, s"$r")
    }
    // row-for-row alignment with the distinct-count audit
    val distinct = StatOps.lDiversity(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(3)).toMap
    out.foreach { r =>
      assert(distinct((r.getInt(0), r.getString(1))) == r.getLong(3), s"$r")
    }
  }

  test("dpTopK: noise matches the closed-form draw; ranking and release are consistent") {
    val out = StatOps.dpTopK(spark, sf).collect()
    assert(out.length == 20)
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // hand-replay the derived Laplace draw per token: md5 prefix → u →
    // inverse CDF at scale b=2 (max |noise| = 2·ln(2^24·2) ≈ 34.7)
    def lap(tok: String): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"dptopk:$tok".getBytes("UTF-8"))
        .take(3).map("%02x".format(_)).mkString
      val u = (java.lang.Long.parseLong(md, 16) + 0.5) / (1 << 24).toDouble
      -2.0 * math.signum(u - 0.5) * math.log(1.0 - 2.0 * math.abs(u - 0.5))
    }
    out.foreach { r =>
      val (tok, n, noisy, released) =
        (r.getString(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))
      assert(noisy == r4(n + lap(tok)), s"noise replay mismatch: $r")
      assert(math.abs(noisy - n) < 35.0, s"noise beyond Laplace tail bound: $r")
      assert(released == (noisy >= 50.0), s"release flag: $r")
    }
    // ranked by noisy count, ties to the token
    val ranks = out.map(r => (-r.getDouble(2), r.getString(0))).toSeq
    assert(ranks == ranks.sorted, "not ordered by noisy count desc")
  }

  test("wilsonCi matches a driver-local closed form and brackets p_hat") {
    def r4(x: Double): Double =
      new java.math.BigDecimal(x).setScale(4,
        java.math.RoundingMode.HALF_UP).doubleValue()
    val out = StatOps.wilsonCi(spark, sf).collect()
    val ref = graft.Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") > StatOps.WilsonThreshold, 1L)
          .otherwise(0L)).as("x"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(out.nonEmpty && out.length == ref.size)
    val z = StatOps.WilsonZ; val zz = z * z
    out.foreach { r =>
      val (et, n, x) = (r.getString(0), r.getLong(1), r.getLong(2))
      assert((n, x) == ref(et))
      val nd = n.toDouble; val p = x.toDouble / nd
      val denom = 1.0 + zz / nd
      val center = (p + zz / (2.0 * nd)) / denom
      val half = z * math.sqrt(p * (1.0 - p) / nd + zz / (4.0 * (nd * nd))) / denom
      assert(r.getDouble(3) == r4(p), s"$et p_hat")
      assert(r.getDouble(4) == r4(center - half), s"$et lo")
      assert(r.getDouble(5) == r4(center + half), s"$et hi")
      // Wilson interval brackets the MLE and stays in [0, 1]
      assert(r.getDouble(4) <= r.getDouble(3) && r.getDouble(3) <= r.getDouble(5))
      assert(r.getDouble(4) >= 0.0 && r.getDouble(5) <= 1.0)
    }
  }
}
