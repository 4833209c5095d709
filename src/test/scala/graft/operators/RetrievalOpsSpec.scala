package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Ground-truth and invariant tests for the retrieval / quality-filter /
  * smoothing operators added with q_bm25, q_rrf, q_gopher_rules,
  * q_readability, q_ema. */
class RetrievalOpsSpec extends SparkTestBase {
  import spark.implicits._

  test("bm25TopK on the fixture: scores positive, ordered, capped at k") {
    val out = RetrievalOps.bm25TopK(spark, sf).collect()
    assert(out.length <= 20 && out.nonEmpty)
    val scores = out.map(_.getDouble(1))
    assert(scores.forall(_ > 0.0))
    assert(scores.sameElements(scores.sortBy(-_)), "not score-descending")
  }

  test("bm25 matches hand-computed Robertson scores on a crafted corpus") {
    // N=4, avgdl=3.5, df(join)=df(hash)=df(scan)=2 -> idf=ln(2) each
    val docs = Seq(
      (1L, "join join hash x"), (2L, "scan y z"),
      (3L, "a b c d"), (4L, "join hash scan"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    withTempDir("graft-bm25") { dir =>
      val tmp = dir.toString
      docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val out = RetrievalOps.bm25Scores(spark, tmp)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(out == Map(1L -> 1.5711, 2L -> 0.7362, 4L -> 2.2085), s"got $out")
    }
  }

  test("rrfFusion: ranks bounded, fused score is exactly the rank formula") {
    val out = RetrievalOps.rrfFusion(spark, sf).collect()
    assert(out.length == 20)
    out.foreach { r =>
      val (rd, rs) = (r.getInt(1), r.getInt(2))
      assert(rd >= 0 && rd <= 50 && rs >= 0 && rs <= 50)
      assert(rd > 0 || rs > 0, "row in neither ranking")
      // mirror the operator's two-step rounding: decimal(20,8) then 6
      val expect = BigDecimal(
        (if (rd > 0) 1.0 / (rd + 60) else 0.0) +
          (if (rs > 0) 1.0 / (rs + 60) else 0.0))
        .setScale(8, BigDecimal.RoundingMode.HALF_UP)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getDouble(3) - expect) < 1e-9,
        s"rrf mismatch at id ${r.get(0)}: ${r.getDouble(3)} vs $expect")
    }
    // descending by fused score
    val rrfs = out.map(_.getDouble(3))
    assert(rrfs.sameElements(rrfs.sortBy(-_)))
  }

  test("gopherRules flags the crafted pass/fail docs correctly") {
    val longDoc = "the a of and " + Seq.fill(21)("data").mkString(" ")
    val docs = Seq(
      (1L, longDoc),                 // passes all four rules
      (2L, "the of tiny doc here"))  // fails word-count only (5 < 20)
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s1"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val r = TextOps.gopherRulesDf(docs).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[String]("source") == "s1")
    assert(row.getAs[Long]("n_docs") == 2L)
    assert(row.getAs[Long]("n_pass_wc") == 1L)
    assert(row.getAs[Long]("n_pass_mwl") == 2L)
    assert(row.getAs[Long]("n_pass_stop") == 2L)
    assert(row.getAs[Long]("n_pass_alpha") == 2L)
    assert(row.getAs[Long]("n_pass_all") == 1L)
    assert(row.getAs[Double]("pass_rate") == 0.5)
  }

  test("readability matches the hand-computed Flesch value") {
    // 5 words, 2 sentence breaks, 6 vowel-group syllables:
    // 206.835 - 1.015*(5/2) - 84.6*(6/5) = 102.7775 ; spw = 1.2
    val docs = Seq((1L, "Hello world. This is fun!"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val row = TextOps.readabilityDf(docs).collect().head
    assert(row.getAs[Long]("n_docs") == 1L)
    assert(row.getAs[Double]("avg_flesch") == 102.7775)
    assert(row.getAs[Double]("avg_syll_per_word") == 1.2)
  }

  test("emaValue folds oldest-first with alpha 0.3 and honors the cap") {
    val events = Seq(
      (1L, 1L, 1.0, "2024-01-01 00:00:00"),
      (2L, 1L, 2.0, "2024-01-01 01:00:00"),
      (3L, 1L, 4.0, "2024-01-01 02:00:00"),
      (4L, 2L, 5.0, "2024-01-01 00:30:00"))
      .toDF("event_id", "user_id", "value", "ts_s")
      .withColumn("ts", to_timestamp(col("ts_s")))
      .withColumn("event_type", lit("view"))
      .withColumn("props", lit("{}"))
    // user 1: seed 1.0 -> 1*0.7+2*0.3 = 1.3 -> 1.3*0.7+4*0.3 = 2.11
    val full = EventOps.emaValueDf(events)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    assert(full == Map(1L -> ((3, 2.11)), 2L -> ((1, 5.0))), s"got $full")
    // cap 2 keeps only the newest two events: seed 2.0 -> 2*0.7+4*0.3 = 2.6
    val capped = EventOps.emaValueDf(events, cap = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(capped(1L) == 2.6, s"got $capped")
  }

  test("welchTTest matches hand-computed t statistic and Welch df") {
    // A: [1,2,3] (mean 2, var 1), B: [2,4] (mean 3, var 2)
    // t = -1/sqrt(1/3 + 1) = -0.8660 ; df = (4/3)^2/((1/9)/2 + 1) = 1.6842
    val events = Seq(
      (1L, "a", 1.0), (2L, "a", 2.0), (3L, "a", 3.0),
      (4L, "b", 2.0), (5L, "b", 4.0))
      .toDF("event_id", "event_type", "value")
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00")))
      .withColumn("user_id", lit(1L)).withColumn("props", lit("{}"))
    val r = AnalyticsOps.welchTTestDf(events).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[String]("type_a") == "a" && row.getAs[String]("type_b") == "b")
    assert(row.getAs[Long]("n_a") == 3L && row.getAs[Long]("n_b") == 2L)
    assert(row.getAs[Double]("mean_diff") == -1.0)
    assert(row.getAs[Double]("t_stat") == -0.866)
    assert(row.getAs[Double]("df") == 1.6842)
  }

  test("knnConfusion: cells cover all probes, row shares sum to 1") {
    val cells = SimilarityOps.knnConfusion(spark, sf).collect()
    assert(cells.map(_.getAs[Long]("n")).sum == 100L)
    val byTrue = cells.groupBy(_.getAs[Int]("true_label"))
    byTrue.foreach { case (_, rows) =>
      val shareSum = rows.map(_.getAs[Double]("row_share")).sum
      assert(math.abs(shareSum - 1.0) < 1e-3, s"shares sum to $shareSum")
    }
  }

  test("psi is 0 for an identical distribution and positive for a shifted one") {
    def doc(id: Long, src: String, nChars: Long) =
      (id, "x", "en", src, nChars)
    // two sources with IDENTICAL length histograms -> each matches the
    // corpus mix exactly -> psi = 0 for both
    val same = (0L to 9L).map(i => doc(i, if (i < 5) "s1" else "s2", 100 + (i % 5) * 60))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val ps = CorpusOps.psiSourceDf(same).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Double]("psi")).toMap
    assert(ps == Map("s1" -> 0.0, "s2" -> 0.0), s"got $ps")
    // s2 shifted entirely into different buckets -> clearly positive psi
    val shifted = ((0L to 4L).map(i => doc(i, "s1", 100)) ++
      (5L to 9L).map(i => doc(i, "s2", 400)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val ps2 = CorpusOps.psiSourceDf(shifted).collect()
      .map(r => r.getAs[Double]("psi"))
    assert(ps2.forall(_ > 0.5), s"got ${ps2.toSeq}")
  }

  test("rankEval: nDCG/MRR replay from the ranking and relevance primitives") {
    val out = RetrievalOps.rankEval(spark, sf).collect().head
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // independent replay: the BM25 ranking and the tiered relevance,
    // metrics recomputed in plain Scala
    val ranking = RetrievalOps.bm25TopK(spark, sf, 20).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (id, s) => (-s, id) }
    val texts = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def rel(id: Long): Int = {
      val toks = texts(id).trim.toLowerCase.split("\\s+")
      val cnt = RetrievalOps.QueryTerms.map(t => toks.count(_ == t)).sum
      if (cnt >= 10) 3 else if (cnt >= 6) 2 else if (cnt >= 3) 1 else 0
    }
    def dcgOf(rels: Seq[Int]): Double =
      rels.zipWithIndex.map { case (g, i) =>
        (math.pow(2.0, g) - 1.0) / (math.log(i + 2.0) / math.log(2.0)) }.sum
    val top10 = ranking.take(10).map { case (id, _) => rel(id) }
    val ideal = texts.keys.toSeq.map(rel).sorted.reverse.take(10)
    val dcg = dcgOf(top10)
    val idcg = dcgOf(ideal)
    val mrr = top10.indexWhere(_ >= 2) match {
      case -1 => 0.0
      case i  => 1.0 / (i + 1)
    }
    assert(out.getLong(1) == 10L)
    assert(out.getDouble(2) == r4(dcg), s"dcg ${out.getDouble(2)} vs $dcg")
    assert(out.getDouble(3) == r4(idcg), s"idcg ${out.getDouble(3)} vs $idcg")
    assert(out.getDouble(4) == r4(dcg / idcg), "ndcg")
    assert(out.getDouble(5) == r4(mrr), "mrr")
    // bounds: dcg can never beat the ideal
    assert(out.getDouble(4) > 0.0 && out.getDouble(4) <= 1.0)
  }

  test("rankBiasedOverlap matches a driver-local RBO from the two rankings") {
    def r4(x: Double): Double =
      new java.math.BigDecimal(x).setScale(4,
        java.math.RoundingMode.HALF_UP).doubleValue()
    val a = SimilarityOps.simTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getInt(1)).toMap
    val b = IvfOps.simIvf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getInt(1)).toMap
    val tbl = RetrievalOps.rboTable()
    val out = RetrievalOps.rankBiasedOverlap(spark, sf).collect()
    assert(out.length == a.keys.map(_._1).toSet.size)
    out.foreach { r =>
      val q = r.getLong(0)
      val ms = a.collect { case ((`q`, c), ra) if b.contains((q, c)) =>
        math.max(ra, b((q, c))) }.toSeq.sorted
      assert(r.getLong(1) == ms.length.toLong, s"n_common q=$q")
      assert(r.getBoolean(2) == ms.headOption.contains(1), s"top1 q=$q")
      val want = ms.foldLeft(0.0)((acc, m) => acc + tbl(m - 1))
      assert(r.getDouble(3) == r4(want), s"rbo q=$q: ${r.getDouble(3)} vs $want")
      // identical prefixes would give RBO -> 1; disjoint lists 0
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    // sanity of the weight table itself: a fully-agreeing depth-10 pair
    // (every m = rank, both lists identical) scores the closed-form
    // truncated RBO at p=0.9
    val perfect = (1 to RetrievalOps.RboDepth)
      .foldLeft(0.0)((acc, m) => acc + tbl(m - 1))
    val closed = (1 to RetrievalOps.RboDepth).foldLeft(0.0)((acc, d) =>
      acc + (1.0 - RetrievalOps.RboP) * math.pow(RetrievalOps.RboP, d - 1))
    assert(math.abs(perfect - closed) < 1e-12,
      s"weight-table mass $perfect vs $closed")
  }
}
