package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.{SparkTestBase, Tables}

/** Round-3 operators: native session windows, funnel, ROWS-frame sliding
  * window, arg-extremum aggregates, relative-rank windows, null-safe join,
  * bigram frequencies, vocabulary coverage, normalized-key dedup. */
class Round3OpsSpec extends SparkTestBase {

  test("watermarkSim matches a driver-local replay of the arrival simulation") {
    val out = EventOps.watermarkSim(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), unix_micros(col("ts")).as("us")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def jitterUs(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:wm".getBytes("UTF-8"))
        .take(3).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(md, 16) % 1800L) * 1000000L
    }
    val batched = ev.map { case (id, us) =>
      ((us + jitterUs(id)) / 600000000L, us) }
    val batchMax = batched.groupBy(_._1).map { case (b, xs) =>
      b -> xs.map(_._2).max }
    val sortedB = batchMax.keys.toSeq.sorted
    val prefix = sortedB.zipWithIndex.map { case (b, i) =>
      b -> (if (i == 0) None else Some(sortedB.take(i).map(batchMax).max))
    }.toMap
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq(0L, 60L, 300L, 900L, 3600L).foreach { d =>
      val dropped = batched.count { case (b, us) =>
        prefix(b).exists(wm => us < wm - d * 1000000L) }
      val (n, nd, frac) = out(d)
      assert(n == ev.length.toLong, s"delay $d n")
      assert(nd == dropped.toLong, s"delay $d dropped: $nd vs $dropped")
      assert(frac == r4(dropped.toDouble / ev.length), s"delay $d frac")
    }
    // the ladder is monotone and exhausts the simulated 30-min jitter
    assert(out(0L)._2 >= out(900L)._2 && out(3600L)._2 == 0L)
  }

  test("ohlc bars match a driver-local replay of the (us, event_id) order") {
    val out = EventOps.ohlc(spark, sf).collect()
      .map(r => (r.getString(0), r.getAs[java.time.LocalDateTime](1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6)))).toMap
    val raw = Tables.events(spark, sf)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("hr"),
        unix_micros(col("ts")).as("us"), col("event_id"), col("value"))
      .collect()
      .map(r => (r.getString(0), r.getAs[java.time.LocalDateTime](1),
        r.getLong(2), r.getLong(3), r.getDouble(4)))
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = raw.groupBy(e => (e._1, e._2)).map { case (k, es) =>
      val ordered = es.sortBy(e => (e._3, e._4)).map(_._5)
      k -> ((es.length.toLong, r4(ordered.head), r4(es.map(_._5).max),
        r4(es.map(_._5).min), r4(ordered.last)))
    }
    assert(out.keySet == expect.keySet)
    expect.foreach { case (k, v) =>
      assert(out(k) == v, s"bar $k: ${out(k)} vs $v")
    }
    // bar sanity: low <= open, close <= high
    out.values.foreach { case (_, o, h, l, c) =>
      assert(l <= o && o <= h && l <= c && c <= h)
    }
  }

  test("interpolateSeries: full spine, observed values exact, fills bounded by neighbors") {
    val ev = graft.Tables.events(spark, sf)
    val out = EventOps.interpolateSeries(spark, sf).collect()
    // one row per hour in range, no nulls anywhere
    val hours = ev.agg(
      (floor(unix_timestamp(max(col("ts"))) / 3600)
        - floor(unix_timestamp(min(col("ts"))) / 3600) + 1).cast("long"))
      .head().getLong(0)
    assert(out.length == hours, s"${out.length} vs $hours")
    assert(out.forall(!_.isNullAt(2)))
    assert(out.exists(_.getBoolean(1)), "fixture has no gaps; test is vacuous")
    // observed hours carry the exact aggregated value
    val obs = ev.filter(col("event_type") === "purchase")
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(graft.functions.NumericFunctions.stableRound4(sum(col("value"))).as("v"))
      .collect().map(r => r.getTimestamp(0) -> r.getDouble(1)).toMap
    out.filter(!_.getBoolean(1)).foreach { r =>
      assert(obs(r.getTimestamp(0)) == r.getDouble(2))
    }
    // every filled value lies within [min, max] of the two nearest observed
    val sorted = out.sortBy(_.getTimestamp(0).getTime)
    sorted.zipWithIndex.filter(_._1.getBoolean(1)).foreach { case (r, i) =>
      val prev = sorted.take(i).reverse.find(!_.getBoolean(1)).map(_.getDouble(2))
      val next = sorted.drop(i + 1).find(!_.getBoolean(1)).map(_.getDouble(2))
      val candidates = Seq(prev, next).flatten
      val (lo, hi) = (candidates.min, candidates.max)
      assert(r.getDouble(2) >= lo - 1e-4 && r.getDouble(2) <= hi + 1e-4,
        s"fill ${r.getDouble(2)} outside [$lo, $hi] at ${r.getTimestamp(0)}")
    }
  }

  test("cohortRetention: day-0 retention is 1.0 and cells never exceed cohort size") {
    val out = EventOps.cohortRetention(spark, sf).collect()
    assert(out.nonEmpty)
    out.filter(_.getInt(1) == 0).foreach { r =>
      assert(r.getLong(2) == r.getLong(3), s"day-0 active != cohort size: $r")
      assert(r.getDouble(4) == 1.0)
    }
    out.foreach(r => assert(r.getLong(2) <= r.getLong(3)))
    // cohort sizes must sum to the distinct user count
    val sizes = out.filter(_.getInt(1) == 0).map(_.getLong(3)).sum
    val users = graft.Tables.events(spark, sf)
      .select("user_id").distinct().count()
    assert(sizes == users)
  }

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("sessionWindowAgg: session end is INCLUSIVE (gap-exact event merges)") {
    import spark.implicits._
    val ev = Seq(
      (1L, ts("2024-01-01 00:00:00"), 7L),
      (2L, ts("2024-01-01 00:29:59"), 7L), // inside the gap → same session
      (3L, ts("2024-01-01 00:59:59"), 7L), // exactly 30:00 after #2 → MERGES
      (4L, ts("2024-01-01 01:30:00"), 7L), // 30:01 after #3 → new session
      (5L, ts("2024-01-01 03:00:00"), 7L)  // far out → its own session
    ).toDF("event_id", "ts", "user_id")
    val sessions = ev
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("n"))
      .as[Long].collect().sorted
    assert(sessions.toSeq == Seq(1L, 1L, 3L))
  }

  test("sessionWindowAgg totals: every event lands in exactly one session") {
    val out = EventOps.sessionWindowAgg(spark, sf)
    assert(out.agg(sum(col("n_events"))).head.getLong(0)
      == Tables.events(spark, sf).count())
    // session bounds are consistent: first <= last event id
    assert(out.filter(col("first_event") > col("last_event")).count() == 0)
  }

  test("eventFunnel: one row per viewing user; latency only when converted") {
    val out = EventOps.eventFunnel(spark, sf)
    val viewers = Tables.events(spark, sf)
      .filter(col("event_type") === "view")
      .select(col("user_id")).distinct().count()
    assert(out.count() == viewers)
    assert(out.filter(col("converted") && col("latency_sec").isNull).count() == 0)
    assert(out.filter(!col("converted") && col("latency_sec").isNotNull).count() == 0)
    assert(out.filter(col("latency_sec") < 0).count() == 0)
  }

  test("rollingRows: frame holds at most 4 rows and sums exactly") {
    val out = EventOps.rollingRows(spark, sf)
    assert(out.filter(col("n_frame") > 4 || col("n_frame") < 1).count() == 0)
    // per-user first row: frame is just itself
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("event_id"))
    val firsts = Tables.events(spark, sf)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_id"),
        round(col("value") * 100, 0).cast("long").as("cents"))
    val joined = out.join(firsts, "event_id")
    assert(joined.filter(col("cents_sum") =!= col("cents")).count() == 0)
  }

  test("minmaxBy picks the names at the extreme custkeys per segment") {
    val out = AnalyticsOps.minmaxBy(spark, sf).collect()
    val cust = Tables.customer(spark, sf)
      .select(col("c_mktsegment"), col("c_custkey"), col("c_name"))
      .collect()
      .groupBy(_.getAs[String]("c_mktsegment"))
    out.foreach { r =>
      val seg = r.getAs[String]("c_mktsegment")
      val rows = cust(seg)
      assert(r.getAs[String]("newest_customer")
        == rows.maxBy(_.getAs[Long]("c_custkey")).getAs[String]("c_name"))
      assert(r.getAs[String]("oldest_customer")
        == rows.minBy(_.getAs[Long]("c_custkey")).getAs[String]("c_name"))
      assert(r.getAs[Long]("n_customers") == rows.length)
    }
  }

  test("windowRank: pct_rank/cume bounded, ties share a dense rank") {
    val out = AnalyticsOps.windowRank(spark, sf)
    assert(out.filter(col("pct_rank") < 0 || col("pct_rank") > 1).count() == 0)
    assert(out.filter(col("cume") <= 0 || col("cume") > 1).count() == 0)
    // equal (priority, price) rows must carry equal dense rank
    val conflicting = out
      .groupBy(col("o_orderpriority"), col("o_totalprice"))
      .agg(countDistinct(col("dr")).as("nd"))
      .filter(col("nd") > 1)
    assert(conflicting.count() == 0)
  }

  test("nullSafeJoin keeps every order, including NULL keys") {
    val out = JoinOps.nullSafeJoin(spark, sf)
    val orders = Tables.orders(spark, sf)
    assert(out.count() == orders.count())
    val nullRows = out.filter(col("status_key").isNull)
    val pCount = orders.filter(col("o_orderstatus") === "P").count()
    assert(nullRows.count() == pCount)
    // the NULL group joined (grp_n populated, equal to the P count)
    assert(nullRows.filter(col("grp_n") =!= pCount).count() == 0)
  }

  test("ngramFreq counts adjacent pairs (hand-checked corpus)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b"),
      (2L, "a b c")
    ).toDF("doc_id", "text")
    val m = CorpusOps.ngramFreq(spark, sf, k = 10) // smoke the declared path
    assert(m.columns.toSeq == Seq("bigram", "n"))
    val local = docs
      .select(graft.functions.TextFunctions.tokensLower(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "zip_with(slice(toks, 1, size(toks) - 1), slice(toks, 2, size(toks) - 1), (x, y) -> concat(x, ' ', y))"))
        .as("bigram"))
      .groupBy("bigram").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(local == Map("a b" -> 3L, "b a" -> 1L, "b c" -> 1L))
  }

  test("vocabCoverage: cumulative share is monotone and ends at top-k share") {
    val shares = CorpusOps.vocabCoverage(spark, sf, k = 50)
      .select(col("cum_share"))
      .collect().map(_.getDouble(0))
    assert(shares.nonEmpty)
    assert(shares.zip(shares.tail).forall { case (a, b) => a <= b + 1e-9 })
    assert(shares.last <= 1.0 + 1e-9)
  }

  test("dedupNormKey groups case/punctuation variants under one key") {
    import spark.implicits._
    val docs = Seq(
      (10L, "Hello,   World!"),
      (11L, "hello world"),
      (12L, "something else")
    ).toDF("doc_id", "text")
      .select(col("doc_id"),
        trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
          " +", " ")).as("norm_key"))
    val keys = docs.groupBy(col("norm_key")).agg(min(col("doc_id")).as("rep"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(keys == Map("hello world" -> 10L, "something else" -> 12L))
    // declared query: representatives are unique and counts sum to |docs|
    val out = DedupOps.dedupNormKey(spark, sf)
    assert(out.select(col("doc_id")).distinct().count() == out.count())
    assert(out.agg(sum(col("n_variants"))).head.getLong(0)
      == Tables.documents(spark, sf).count())
  }

  test("zscoreAnomaly: z-scores recompute from hourly counts; flag = |z|>2") {
    val rows = EventOps.zscoreAnomaly(spark, sf).collect()
    assert(rows.nonEmpty)
    // per-type hand recomputation of mean/std over the hourly counts
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val n = rs.map(_.getLong(2).toDouble)
      val mu = n.sum / n.length
      val sd =
        if (n.length < 2) 0.0
        else math.sqrt(n.map(x => (x - mu) * (x - mu)).sum / (n.length - 1))
      rs.foreach { r =>
        val expected = if (sd > 0) (r.getLong(2) - mu) / sd else 0.0
        assert(math.abs(r.getDouble(3) - expected) < 1e-3)
        assert(r.getBoolean(4) == (math.abs(r.getDouble(3)) > 2.0))
      }
    }
  }

  test("lagFeatures: lag/delta/mean3 recompute from per-user ordered values") {
    val out = EventOps.lagFeatures(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    val byUser = graft.Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
      .collect()
      .groupBy(_.getLong(0))
    byUser.values.foreach { rs =>
      val ordered = rs.sortBy(r => (r.getLong(1), r.getLong(2)))
      ordered.zipWithIndex.foreach { case (r, i) =>
        val got = out(r.getLong(2))
        if (i == 0) assert(got.isNullAt(3) && got.isNullAt(4))
        else {
          assert(got.getDouble(3) == ordered(i - 1).getDouble(3))
          assert(math.abs(got.getDouble(4)
            - (r.getDouble(3) - ordered(i - 1).getDouble(3))) < 1e-4)
        }
        val frame = ordered.slice(math.max(0, i - 2), i + 1).map(_.getDouble(3))
        assert(math.abs(got.getDouble(5) - frame.sum / frame.length) < 1e-4)
      }
    }
  }

  test("groupZscore: per-language z-scores recompute; zero-mean per group") {
    val rows = AnalyticsOps.groupZscore(spark, sf).collect()
    rows.groupBy(_.getString(1)).foreach { case (_, rs) =>
      val x = rs.map(_.getLong(2).toDouble)
      val mu = x.sum / x.length
      val sd =
        if (x.length < 2) 0.0
        else math.sqrt(x.map(v => (v - mu) * (v - mu)).sum / (x.length - 1))
      rs.foreach { r =>
        val expected = if (sd > 0) (r.getLong(2) - mu) / sd else 0.0
        assert(math.abs(r.getDouble(3) - expected) < 1e-3)
      }
      // standardized values are centered within each group
      if (sd > 0) assert(math.abs(rs.map(_.getDouble(3)).sum / rs.length) < 1e-3)
    }
  }

  test("benfordProfile: shares sum to 1; expected follows log10(1+1/d)") {
    val rows = AnalyticsOps.benfordProfile(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq == rows.map(_.getString(0)).toSeq.sorted)
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-2)
    rows.foreach { r =>
      val d = r.getString(0).toInt
      assert(math.abs(r.getDouble(3) - math.log10(1.0 + 1.0 / d)) < 1e-4)
      assert(math.abs(r.getDouble(4)
        - math.abs(r.getDouble(2) - r.getDouble(3))) < 2e-4)
    }
  }

  test("autocorrHourly: matches a hand-rolled Pearson on the hourly series") {
    val out = EventOps.autocorrHourly(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val hourly = Tables.events(spark, sf)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(sum(col("value")).as("v"))
      .collect()
      .groupBy(_.getString(0))
    hourly.foreach { case (tpe, rs) =>
      val v = rs.sortBy(_.getTimestamp(1).getTime).map(_.getDouble(2))
      val (x, y) = (v.dropRight(1), v.drop(1))
      val n = x.length
      val (mx, my) = (x.sum / n, y.sum / n)
      val cov = x.zip(y).map { case (a, b) => (a - mx) * (b - my) }.sum
      val r = cov / math.sqrt(
        x.map(a => (a - mx) * (a - mx)).sum * y.map(b => (b - my) * (b - my)).sum)
      assert(out(tpe)._1 == n)
      assert(math.abs(out(tpe)._2 - r) < 1e-3, s"$tpe: ${out(tpe)._2} vs $r")
    }
  }

  test("nullProfile: one row per column; counts match direct queries") {
    val rows = RelationalOps.nullProfile(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val ev = Tables.events(spark, sf)
    val total = ev.count()
    assert(rows.keySet == Set("event_id", "ts", "user_id", "event_type",
      "value", "props"))
    rows.foreach { case (c, (nRows, nNull, nDist)) =>
      assert(nRows == total)
      assert(nNull == ev.filter(col(c).isNull).count())
      assert(nDist == ev.select(col(c)).distinct().count())
    }
  }

  test("chiSquareCrosstab: expected counts and cell contributions recompute") {
    val rows = AnalyticsOps.chiSquareCrosstab(spark, sf).collect()
    val n = rows.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val rowT = n.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val colT = n.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val grand = n.values.sum.toDouble
    rows.foreach { r =>
      val e = rowT(r.getString(0)) * colT(r.getString(1)) / grand
      assert(math.abs(r.getDouble(3) - e) < 1e-3)
      val cell = math.pow(r.getLong(2) - e, 2) / e
      assert(math.abs(r.getDouble(4) - cell) < 1e-3)
    }
    // expected mass ~= grand total up to the cells absent from the sparse
    // fixture crosstab (expected is only emitted for observed cells)
    assert(rows.map(_.getDouble(3)).sum <= grand + 1e-9)
  }

  test("percentileProfile: monotone profile; p50 matches interpolated median") {
    val rows = AnalyticsOps.percentileProfile(spark, sf).collect()
    val lens = Tables.documents(spark, sf)
      .select(col("lang"), col("n_chars")).collect()
      .groupBy(_.getString(0))
    rows.foreach { r =>
      val p = (2 to 6).map(r.getDouble)
      assert(p.zip(p.tail).forall { case (a, b) => a <= b + 1e-9 },
        s"${r.getString(0)}: $p")
      // hand-computed linear-interpolation median
      val v = lens(r.getString(0)).map(_.getLong(1).toDouble).sorted
      val pos = 0.5 * (v.length - 1)
      val med = v(pos.toInt) + (pos - pos.toInt) *
        (v(math.min(pos.toInt + 1, v.length - 1)) - v(pos.toInt))
      assert(math.abs(r.getDouble(4) - med) < 1e-3)
      assert(r.getLong(1) == v.length)
    }
  }

  test("jaroWinkler matches DuckDB's jaro_winkler_similarity reference values") {
    import graft.functions.expressions.StringSimilarity.jaroWinkler
    // reference values probed from DuckDB jaro_winkler_similarity
    val cases = Seq(
      ("martha", "marhta", 0.9611111111111111),
      ("dixon", "dicksonx", 0.8133333333333332),
      ("jellyfish", "smellyfish", 0.8962962962962964),
      ("duane", "dwayne", 0.8400000000000001),
      ("aaaaa", "aaaab", 0.92),              // prefix boost applies (j > 0.7)
      ("abcdxxxxxx", "abcdyyyyyy", 0.6),     // below boost threshold: no boost
      ("abcdefgh", "abcdzzzz", 0.6666666666666666),
      ("abc", "abc", 1.0),
      ("ab", "ba", 0.0),                     // window 0: no matches
      ("", "abc", 0.0),
      ("", "", 0.0),
      // odd mismatch count: floored ⌊t/2⌋ (rapidfuzz/DuckDB), not t/2.0 —
      // exact halving gives 0.95625 / 0.955 here (sf0.001 regression)
      ("spark spark part", "spark part spark", 0.9625),
      ("query hash row s", "query hash sort ", 0.9616666666666668))
    cases.foreach { case (a, b, expected) =>
      assert(math.abs(jaroWinkler(a, b) - expected) < 1e-15, s"($a, $b)")
      assert(math.abs(jaroWinkler(b, a) - expected) < 1e-15, s"($b, $a) sym")
    }
    // the codegen path (SQL surface via GraftExtensions) agrees with the
    // static function
    import spark.implicits._
    val got = cases.map { case (a, b, _) => (a, b) }.toDF("a", "b")
      .selectExpr("jaro_winkler(a, b) AS jw").collect().map(_.getDouble(0))
    assert(got.zip(cases.map(_._3)).forall { case (g, e) => math.abs(g - e) < 1e-15 })
  }

  test("jaroWinklerPairs: declared query rows respect threshold and ordering") {
    val rows = AnalyticsOps.jaroWinklerPairs(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(2) >= 0.9)
      assert(r.getLong(0) < r.getLong(1))
    }
    val jws = rows.map(_.getDouble(2))
    assert(jws.zip(jws.tail).forall { case (a, b) => a >= b })
  }

  test("embedDimStats: per-dimension stats recompute from collected vectors") {
    val rows = SimilarityOps.embedDimStats(spark, sf).collect()
    val vecs = Tables.embeddings(spark, sf).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    assert(rows.length == vecs.head.length)
    rows.foreach { r =>
      val d = r.getInt(0) - 1
      val x = vecs.map(_(d))
      assert(r.getLong(1) == x.length)
      val mu = x.sum / x.length
      assert(math.abs(r.getDouble(2) - mu) < 1e-3)
      val sd = math.sqrt(x.map(v => (v - mu) * (v - mu)).sum / (x.length - 1))
      assert(math.abs(r.getDouble(3) - sd) < 1e-3)
      assert(math.abs(r.getDouble(4) - x.min) < 1e-4)
      assert(math.abs(r.getDouble(5) - x.max) < 1e-4)
    }
  }

  test("funnel3: monotone step counts; recomputes from per-user event times") {
    val rows = EventOps.funnel3(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val (n1, n2, n3) =
      (rows("1_view")._1, rows("2_click")._1, rows("3_purchase")._1)
    assert(n1 >= n2 && n2 >= n3 && n1 > 0)
    // hand-recompute the strictly-ordered funnel from collected events
    val byUser = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .collect().groupBy(_.getLong(0))
    var (v, c, p) = (0L, 0L, 0L)
    byUser.values.foreach { es =>
      def minAfter(tpe: String, after: Long): Option[Long] = {
        val ts = es.filter(e => e.getString(1) == tpe && e.getLong(2) > after)
          .map(_.getLong(2))
        if (ts.isEmpty) None else Some(ts.min)
      }
      minAfter("view", Long.MinValue).foreach { vUs =>
        v += 1
        minAfter("click", vUs).foreach { cUs =>
          c += 1
          if (minAfter("purchase", cUs).isDefined) p += 1
        }
      }
    }
    assert((n1, n2, n3) == ((v, c, p)))
    assert(math.abs(rows("2_click")._2 - c.toDouble / v) < 1e-3)
    assert(math.abs(rows("3_purchase")._2 - p.toDouble / c) < 1e-3)
  }

  test("eventPaths: top paths recompute from per-user chronological replay") {
    val out = EventOps.eventPaths(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val paths = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .collect().groupBy(_.getLong(0))
      .map { case (_, es) =>
        es.sortBy(e => (e.getLong(1), e.getLong(2))).take(5)
          .map(_.getString(3)).mkString(">")
      }
    val counts = paths.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expected = counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(20)
    assert(out.toSeq == expected)
  }

  test("zipfFit: slope/intercept/r2 match a hand-rolled OLS on log-log ranks") {
    val row = CorpusOps.zipfFit(spark, sf).head()
    val vocab = Tables.documents(spark, sf)
      .select(explode(graft.functions.TextFunctions.tokensLower(col("text")))
        .as("tok"))
      .groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .sortBy { case (t, n) => (-n, t) }.take(1000)
    val pts = vocab.zipWithIndex.map { case ((_, n), i) =>
      (math.log(i + 1.0), math.log(n.toDouble)) }
    val (mx, my) = (pts.map(_._1).sum / pts.length, pts.map(_._2).sum / pts.length)
    val sxy = pts.map { case (x, y) => (x - mx) * (y - my) }.sum
    val sxx = pts.map { case (x, _) => (x - mx) * (x - mx) }.sum
    val syy = pts.map { case (_, y) => (y - my) * (y - my) }.sum
    val slope = sxy / sxx
    assert(row.getLong(0) == pts.length)
    assert(math.abs(row.getDouble(1) - slope) < 1e-3)
    assert(math.abs(row.getDouble(2) - (my - slope * mx)) < 1e-3)
    assert(math.abs(row.getDouble(3) - sxy * sxy / (sxx * syy)) < 1e-3)
    // frequencies are rank-sorted, so the fitted slope must be <= 0; the
    // synthetic near-uniform vocab gives a weak fit (low r2) by design —
    // exactly the deviation-from-Zipf signal the diagnostic exists to flag
    assert(row.getDouble(1) <= 0 && row.getDouble(3) >= 0)
  }

  test("weeklyProfile: day shares sum to 1; counts cover all events") {
    val rows = EventOps.weeklyProfile(spark, sf).collect()
    assert(rows.map(_.getLong(2)).sum == Tables.events(spark, sf).count())
    rows.groupBy(_.getInt(0)).values.foreach { day =>
      assert(math.abs(day.map(_.getDouble(3)).sum - 1.0) < 1e-2)
    }
    rows.foreach { r =>
      assert(r.getInt(0) >= 1 && r.getInt(0) <= 7)
      assert(r.getInt(1) >= 0 && r.getInt(1) <= 23)
    }
  }

  test("jsDivergence: bounded in [0, ln2/2...]; identical-distribution source ~ small") {
    val rows = CorpusOps.jsDivergence(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rows.nonEmpty)
    // JSD (natural log) is bounded by ln 2; all sources draw from the same
    // synthetic vocabulary, so divergence is well inside the bound
    rows.values.foreach(v => assert(v >= -1e-9 && v <= math.log(2.0) + 1e-9))
    // a planted verbatim copy of the corpus distribution scores lower than
    // a disjoint-vocab source
    import spark.implicits._
    withTempDir("jsd") { dir =>
      val tmp = dir.toString
      val base = (1L to 40L).map(i => (i, "alpha beta gamma delta", "same"))
      val diff = (41L to 60L).map(i => (i, "zeta eta theta iota", "diff"))
      (base ++ diff).toDF("doc_id", "text", "source")
        .withColumn("lang", lit("en"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.parquet(s"$tmp/documents.parquet")
      val planted = CorpusOps.jsDivergence(spark, tmp).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(planted("same") < planted("diff"))
      assert(planted("diff") > 0.2) // mostly-disjoint vocab diverges strongly
    }
  }

  test("transitionMatrix: rows are probability distributions; counts replay") {
    val rows = EventOps.transitionMatrix(spark, sf).collect()
    // each current-state row sums to probability ~1
    rows.groupBy(_.getString(0)).values.foreach { rs =>
      assert(math.abs(rs.map(_.getDouble(3)).sum - 1.0) < 1e-2)
    }
    // counts recompute from a per-user chronological replay
    val replay = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .collect().groupBy(_.getLong(0))
      .values.flatMap { es =>
        val seq = es.sortBy(e => (e.getLong(1), e.getLong(2)))
          .map(_.getString(3))
        seq.zip(seq.tail)
      }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = rows.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(got == replay)
  }

  test("changepoint: argmax split recomputes from a brute-force scan") {
    val out = EventOps.changepoint(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getTimestamp(1), r.getLong(2), r.getDouble(6))).toMap
    val hourly = Tables.events(spark, sf)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(sum(col("value")).as("v"))
      .collect().groupBy(_.getString(0))
    hourly.foreach { case (tpe, rs) =>
      val v = rs.sortBy(_.getTimestamp(1).getTime).map(_.getDouble(2))
      val best = (1 until v.length).map { i =>
        val ml = v.take(i).sum / i
        val mr = v.drop(i).sum / (v.length - i)
        // mirror the operator: rank the ROUNDED gap, tie-break by hour
        (i, BigDecimal(math.abs(ml - mr)).setScale(4,
          BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.minBy { case (i, g) => (-g, i) }
      val (_, nLeft, gap) = out(tpe)
      assert(nLeft == best._1, s"$tpe: split ${nLeft} vs ${best._1}")
      assert(math.abs(gap - best._2) < 1e-3, tpe)
    }
  }

  test("labelBalance: shares sum to 1, weighted sample count averages to 1") {
    val rows = SimilarityOps.labelBalance(spark, sf).collect()
    val n = rows.map(_.getLong(1))
    assert(n.sum == graft.Tables.embeddings(spark, sf).count())
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-2)
    // balanced-weight identity: sum(n_i * w_i) == total  (weights avg to 1)
    val weighted = rows.map(r => r.getLong(1) * r.getDouble(3)).sum
    assert(math.abs(weighted - n.sum) / n.sum < 1e-3)
  }

  test("eventLag counts exactly the backward-time consecutive pairs") {
    import spark.implicits._
    withTempDir("graft-lag") { dir =>
      val tmp = dir.toString
      // user 1 "click": ids 1,2,3 with times 10,30,20 -> pairs (1,2) ok,
      // (2,3) INVERTED; user 2 "click": ids 4,5 in order -> 0 of 1;
      // "view": single event -> no pairs, absent from output
      Seq(
        (1L, 1L, "click", 10L), (2L, 1L, "click", 30L), (3L, 1L, "click", 20L),
        (4L, 2L, "click", 40L), (5L, 2L, "click", 50L),
        (6L, 3L, "view", 60L))
        .toDF("event_id", "user_id", "event_type", "us")
        .select(col("event_id"), col("user_id"), col("event_type"),
          timestamp_micros(col("us") * 1000000L).as("ts"),
          lit(0.0).as("value"), lit("{}").as("props"))
        .write.mode("overwrite").parquet(s"$tmp/events.parquet")
      val out = EventOps.eventLag(spark, tmp).collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      assert(out("click") == ((3L, 1L, 0.3333)), s"got ${out.get("click")}")
      assert(!out.contains("view"))
    }
  }

  test("audienceOverlap matches hand-computed user-set Jaccard") {
    import spark.implicits._
    withTempDir("graft-aud") { dir =>
      val tmp = dir.toString
      // click users {1,2,3}, view users {2,3}, buy users {9}
      // click-view: shared 2, jaccard 2/3; *-buy: no shared users -> absent
      Seq(
        (1L, 1L, "click"), (2L, 2L, "click"), (3L, 3L, "click"),
        (4L, 2L, "click"), // duplicate (user, type) must not double-count
        (5L, 2L, "view"), (6L, 3L, "view"),
        (7L, 9L, "buy"))
        .toDF("event_id", "user_id", "event_type")
        .select(col("event_id"), col("user_id"), col("event_type"),
          timestamp_micros(col("event_id") * 1000000L).as("ts"),
          lit(0.0).as("value"), lit("{}").as("props"))
        .write.mode("overwrite").parquet(s"$tmp/events.parquet")
      val out = EventOps.audienceOverlap(spark, tmp).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getDouble(3)))).toMap
      assert(out == Map(("click", "view") -> ((2L, 0.6667))), s"got $out")
    }
  }

  test("attribution: last touch wins, ties break on event_id, " +
      "out-of-window and zero-touch purchases go direct") {
    import spark.implicits._
    withTempDir("graft-attr") { dir =>
      val tmp = dir.toString
      val day = 86400L
      // user 1: click(t=100) then view(t=200) then purchase(t=250, rev 10)
      //   -> view (last touch)
      // user 2: two touches at the SAME ts (t=300: click id=20, view id=21)
      //   then purchase(t=310, rev 20) -> view (higher event_id wins)
      // user 3: click 8 days before purchase(rev 30) -> outside 7d -> direct
      // user 4: purchase(rev 40) with no touches at all -> direct
      Seq(
        (10L, 1L, "click", 100L, 0.0), (11L, 1L, "view", 200L, 0.0),
        (12L, 1L, "purchase", 250L, 10.0),
        (20L, 2L, "click", 300L, 0.0), (21L, 2L, "view", 300L, 0.0),
        (22L, 2L, "purchase", 310L, 20.0),
        (30L, 3L, "click", 1000L, 0.0),
        (31L, 3L, "purchase", 1000L + 8 * day, 30.0),
        (40L, 4L, "purchase", 500L, 40.0))
        .toDF("event_id", "user_id", "event_type", "t", "value")
        .select(col("event_id"), col("user_id"), col("event_type"),
          timestamp_micros(col("t") * 1000000L).as("ts"),
          col("value"), lit("{}").as("props"))
        .write.mode("overwrite").parquet(s"$tmp/events.parquet")
      val out = EventOps.attribution(spark, tmp).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(out == Map(
        "view" -> ((2L, 30.0)),     // users 1 and 2
        "direct" -> ((2L, 70.0))),  // users 3 (out of window) and 4
        s"got $out")
    }
  }

  test("attributionPosition: U-shaped weights on a crafted journey; " +
      "revenue is conserved across channels") {
    import spark.implicits._
    withTempDir("graft-attrpos") { dir =>
      val tmp = dir.toString
      // user 1: click, view, click, email then purchase(rev 10) ->
      //   first click 4.0, last email 4.0, middles view/click 1.0 each
      // user 2: single view then purchase(rev 20) -> view 20
      // user 3: click + view then purchase(rev 30) -> 15 / 15
      // user 4: zero-touch purchase(rev 40) -> direct 40
      Seq(
        (10L, 1L, "click", 100L, 0.0), (11L, 1L, "view", 200L, 0.0),
        (12L, 1L, "click", 300L, 0.0), (13L, 1L, "email", 400L, 0.0),
        (14L, 1L, "purchase", 500L, 10.0),
        (20L, 2L, "view", 100L, 0.0), (21L, 2L, "purchase", 150L, 20.0),
        (30L, 3L, "click", 100L, 0.0), (31L, 3L, "view", 200L, 0.0),
        (32L, 3L, "purchase", 250L, 30.0),
        (40L, 4L, "purchase", 500L, 40.0))
        .toDF("event_id", "user_id", "event_type", "t", "value")
        .select(col("event_id"), col("user_id"), col("event_type"),
          timestamp_micros(col("t") * 1000000L).as("ts"),
          col("value"), lit("{}").as("props"))
        .write.mode("overwrite").parquet(s"$tmp/events.parquet")
      val out = EventOps.attributionPosition(spark, tmp).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(out == Map(
        "click" -> ((3L, 4.0 + 1.0 + 15.0)),  // u1 first 4 + u1 middle 1 + u3 first 15
        "view" -> ((3L, 1.0 + 20.0 + 15.0)),  // u1 middle 1 + u2 solo 20 + u3 last 15
        "email" -> ((1L, 4.0)),               // u1 last
        "direct" -> ((1L, 40.0))), s"got $out")
      // conservation: every purchase's weights sum to 1, so channel totals
      // sum to total purchase revenue (exact decimal sums; round-4 output)
      assert(math.abs(out.values.map(_._2).sum - 100.0) < 1e-9)
      // and on the real fixture, conservation must hold vs total revenue
      val real = EventOps.attributionPosition(spark, sf).collect()
        .map(_.getDouble(2)).sum
      val totalRev = Tables.events(spark, sf)
        .filter(col("event_type") === "purchase")
        .agg(sum(col("value"))).head().getDouble(0)
      assert(math.abs(real - totalRev) / totalRev < 1e-4,
        s"attributed $real vs purchase revenue $totalRev")
    }
  }

  test("stlDecompose: trend is the hand-computed centered 7-day MA, " +
      "seasonal means sum consistently, identity holds at round-4") {
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // reference series: daily totals (round-4), day-ordered
    val daily = Tables.events(spark, sf)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(round(sum(col("value")), 4).as("total"))
      .orderBy(col("day")).collect()
      .map(r => (r.getDate(0).toString, r.getDouble(1)))
    val out = EventOps.stlDecompose(spark, sf).collect()
      .map(r => (r.getDate(0).toString, r.getDouble(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    // full 7-row windows only: first and last 3 days trimmed
    assert(out.length == daily.length - 6, s"${out.length} vs ${daily.length}")
    val totals = daily.map(t => math.round(t._2 * 10000))
    val trendAt = daily.indices.drop(3).dropRight(3).map { i =>
      daily(i)._1 -> r4((i - 3 to i + 3).map(totals).sum / 7.0 / 10000.0)
    }.toMap
    out.foreach { case (day, total, trend, seasonal, resid) =>
      assert(math.abs(trend - trendAt(day)) < 1e-9, s"trend at $day")
      assert(math.abs(resid - r4(total - trend - seasonal)) < 1e-9,
        s"identity at $day")
    }
    // seasonal: one value per weekday, equal across weeks
    val byDow = out.groupBy(t => java.time.LocalDate.parse(t._1).getDayOfWeek)
      .view.mapValues(_.map(_._4))
    byDow.foreach { case (dow, vals) =>
      assert(vals.distinct.length == 1, s"seasonal not constant for $dow")
    }
  }
}
