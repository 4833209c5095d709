package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class CorpusOpsSpec extends SparkTestBase {
  import spark.implicits._

  test("chunkDocs splits every doc into ceil(n/50) chunks, last one ragged") {
    val chunks = CorpusOps.chunkDocs(spark, sf).collect()
    val tokCounts = graft.Tables.documents(spark, sf)
      .select(col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val byDoc = chunks.groupBy(_.getLong(0))
    assert(byDoc.keySet == tokCounts.keySet)
    byDoc.foreach { case (doc, rows) =>
      val n = tokCounts(doc)
      assert(rows.length == math.ceil(n / 50.0).toInt)
      // chunk ids are 0..k-1; token counts are 50,...,50,remainder
      assert(rows.map(_.getInt(1)).sorted.sameElements(rows.indices))
      assert(rows.map(_.getInt(2)).sum == n)
      assert(rows.filter(_.getInt(1) < rows.length - 1)
        .forall(_.getInt(2) == 50))
    }
  }

  test("sampleByHash is a deterministic pure function of doc_id") {
    val a = CorpusOps.sampleByHash(spark, sf).collect().map(_.getLong(0))
    val b = CorpusOps.sampleByHash(spark, sf).collect().map(_.getLong(0))
    assert(a.sameElements(b))
    val total = graft.Tables.documents(spark, sf).count()
    assert(a.nonEmpty && a.length < total)
  }

  test("redactPii replaces emails and phone numbers") {
    val got = Seq("mail bob.smith+x@sub.example.org now or 555-123-4567 ok")
      .toDF("t")
      .select(CorpusOps.redactPii(col("t")).as("r"))
      .head().getString(0)
    assert(got == "mail <EMAIL> now or <PHONE> ok")
  }

  test("vocabTopK ranks tokens by document frequency with token tie-break") {
    val rows = CorpusOps.vocabTopK(spark, sf).collect()
    // sf0.001's synthetic vocab is smaller than the top-k cap
    assert(rows.length <= 50 && rows.nonEmpty)
    val freqs = rows.map(_.getLong(1))
    assert(freqs.sameElements(freqs.sorted.reverse))
    // doc frequency can't exceed the corpus size
    val total = graft.Tables.documents(spark, sf).count()
    assert(freqs.head <= total)
  }

  test("explodeTokens yields 0-based positions capped at 20") {
    val rows = CorpusOps.explodeTokens(spark, sf)
      .groupBy(col("doc_id"))
      .agg(min(col("pos")).as("lo"), max(col("pos")).as("hi"),
        count(lit(1)).as("n"))
      .collect()
    rows.foreach { r =>
      assert(r.getInt(1) == 0)
      assert(r.getInt(2) <= 19)
      assert(r.getLong(3) == r.getInt(2) + 1) // dense positions
    }
  }

  test("groupingSetsAgg grand-total row matches the table count") {
    val rows = AnalyticsOps.groupingSetsAgg(spark, sf).collect()
    val total = graft.Tables.orders(spark, sf).count()
    val grand = rows.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length == 1 && grand.head.getLong(2) == total)
    // per-status subtotals sum to the grand total
    val statusRows = rows.filter(r => !r.isNullAt(0) && r.isNullAt(1))
    assert(statusRows.map(_.getLong(2)).sum == total)
  }

  test("udafStats: typed Aggregator equals built-in SUM(x*x)") {
    val rows = AnalyticsOps.udafStats(spark, sf).collect()
    val expected = graft.Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity") * col("l_quantity")).as("s"))
      .orderBy(col("l_returnflag")).collect()
    assert(rows.map(r => r.getString(0) -> r.getDouble(1)).toSeq ==
      expected.map(r => r.getString(0) -> r.getDouble(1)).toSeq)
  }

  test("salted skew-join formulation equals the declared plain+AQE path") {
    val salted = JoinOps.skewJoinAggSalted(spark, sf).collect()
    val plain = JoinOps.skewJoinAgg(spark, sf).collect()
    assert(salted.map(_.toSeq).toSeq == plain.map(_.toSeq).toSeq)
  }

  test("tfidfTop: one row per doc; top token really is the doc's modal token") {
    val out = CorpusOps.tfidfTop(spark, sf).cache()
    try {
      val nDocs = graft.Tables.documents(spark, sf).count()
      assert(out.count() == nDocs)
      // recompute the modal token independently and compare a sample
      val toks = graft.Tables.documents(spark, sf)
        .select(col("doc_id"),
          explode(graft.functions.TextFunctions.tokensLower(col("text"))).as("token"))
        .groupBy(col("doc_id"), col("token")).count()
      val expected = toks.collect().groupBy(_.getLong(0)).map { case (d, rs) =>
        d -> rs.map(r => (r.getString(1), r.getLong(2)))
          .sortBy { case (t, n) => (-n, t) }.head
      }
      out.collect().take(50).foreach { r =>
        val (tok, n) = expected(r.getLong(0))
        assert(r.getString(1) == tok && r.getLong(2) == n)
      }
      // tfidf weight is non-negative and zero only when df = n_docs
      assert(out.filter(col("tfidf") < 0).count() == 0)
    } finally out.unpersist()
  }

  test("stratifiedSample: en downsampled below the other strata; subset of full sample space") {
    val out = CorpusOps.stratifiedSample(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val totals = graft.Tables.documents(spark, sf)
      .groupBy(col("lang")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = out.groupBy(_._2).view.mapValues(_.length).toMap
    // rate(en) ≈ 5% < rate(other) ≈ 20%; tolerant bounds for small strata
    val rateEn = kept.getOrElse("en", 0).toDouble / totals("en")
    val rateOther = kept.filter(_._1 != "en").map(_._2).sum.toDouble /
      totals.filter(_._1 != "en").values.sum
    assert(rateEn < rateOther,
      s"expected en rate $rateEn below other-language rate $rateOther")
    // determinism: pure function of (doc_id, lang)
    val again = CorpusOps.stratifiedSample(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(out.sameElements(again))
  }

  test("samplePerGroup: at most n rows per language, rn dense from 1") {
    val out = CorpusOps.samplePerGroup(spark, sf, n = 25).collect()
    val byLang = out.groupBy(_.getString(1))
    byLang.foreach { case (lang, rows) =>
      assert(rows.length <= 25, s"$lang overflows: ${rows.length}")
      assert(rows.map(_.getInt(2)).sorted.sameElements(1 to rows.length))
    }
    // a stratum smaller than n keeps all its docs
    val totals = graft.Tables.documents(spark, sf)
      .groupBy(col("lang")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    totals.filter(_._2 <= 25).keys.foreach { lang =>
      assert(byLang(lang).length.toLong == totals(lang))
    }
  }

  test("weightedSample keeps high-quality docs more often and is a pure key function") {
    val scores = TextOps.qualityScore(spark, sf)
      .select(col("doc_id"), col("quality_score")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val kept = CorpusOps.weightedSample(spark, sf).collect()
      .map(r => r.getLong(0)).toSet
    // every kept doc passes its own threshold; every dropped one fails it
    scores.foreach { case (id, s) =>
      val u = java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(id.toString)
          .substring(0, 4), 16) / 65536.0
      assert(kept.contains(id) == (u < s), s"doc $id u=$u score=$s")
    }
    // the sample preferentially keeps high-quality docs
    val keptAvg = scores.filter(kv => kept.contains(kv._1)).values.sum / kept.size
    val allAvg = scores.values.sum / scores.size
    assert(keptAvg > allAvg)
    // no shuffle: the keep decision is a narrow scan (no Exchange before
    // the final output sort)
    val plan = CorpusOps.weightedSample(spark, sf).queryExecution
      .executedPlan.toString
    assert(plan.split("Exchange").length - 1 <= 1, plan)
  }

  test("packSequences equals a hand-rolled greedy packing; budget never exceeded") {
    val budget = 256
    val out = CorpusOps.packSequences(spark, sf, budget = budget).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getLong(4), r.getLong(5)))
    assert(out.nonEmpty)
    assert(out.forall(_._4 <= budget))
    // reference packing computed independently
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1))
      .filter { case (_, n) => n > 0 && n <= budget }
    val expected = docs.groupBy(_._1 % 32).toSeq.flatMap { case (bin, ds) =>
      val sorted = ds.sortBy(_._1)
      val seqs = scala.collection.mutable.ArrayBuffer.empty[Vector[(Long, Int)]]
      var cur = Vector.empty[(Long, Int)]; var used = 0
      sorted.foreach { case (id, n) =>
        if (used + n > budget && cur.nonEmpty) { seqs += cur; cur = Vector.empty; used = 0 }
        cur :+= (id, n); used += n
      }
      if (cur.nonEmpty) seqs += cur
      seqs.zipWithIndex.map { case (s, i) =>
        (bin.toInt, i, s.length, s.map(_._2).sum, s.head._1, s.last._1)
      }
    }.toSet
    assert(out.toSet == expected)
    // every eligible doc lands in exactly one sequence
    assert(out.map(_._3).sum == docs.length)
    // deterministic across runs
    val again = CorpusOps.packSequences(spark, sf, budget = budget).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(3)))
    assert(again.sameElements(out.map(r => (r._1, r._2, r._4))))
  }

  test("sourceMix cells partition the corpus; shares sum to ~1") {
    val rows = CorpusOps.sourceMix(spark, sf).collect()
    val total = graft.Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(2)).sum == total)
    val shareSum = rows.map(_.getDouble(4)).sum
    assert(math.abs(shareSum - 1.0) < 0.01, s"shares sum to $shareSum")
    assert(rows.forall(_.getLong(3) > 0))
  }

  test("decontaminate finds exactly the train/eval 5-gram overlaps (hand-rolled check)") {
    val dir = "/root/testdata/sf0.01" // sf0.001 has no cross-split overlap
    def grams(text: String): Set[String] = {
      val t = text.trim.toLowerCase.split("\\s+")
      if (t.length < 5) Set.empty
      else t.sliding(5).map(_.mkString(" ")).toSet
    }
    val all = graft.Tables.documents(spark, dir).collect()
      .map(r => r.getLong(0) -> grams(r.getString(1)))
    val eval = all.filter(_._1 % 13 == 0)
    val train = all.filter(_._1 % 13 != 0)
    val expected = (for {
      (tid, tg) <- train; (eid, eg) <- eval
      shared = (tg & eg).size if shared > 0
    } yield (tid, eid, shared.toLong)).toSet
    val got = CorpusOps.decontaminate(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(expected.size <= 100, "fixture outgrew the limit; raise k")
    assert(got == expected)
  }

  test("docDupeRate: dup_rate consistent with exact distinct counts") {
    val out = CorpusOps.docDupeRate(spark, sf).collect()
    out.foreach { r =>
      val (n, d, rate) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(d <= n && rate >= 0.0 && rate <= 1.0)
      assert(math.abs(rate - (1.0 - d.toDouble / n)) < 1e-4)
    }
  }

  test("segmentDedup: totals match chunk math, kept bounded, global kept = distinct segments") {
    val out = CorpusOps.segmentDedup(spark, sf).collect()
    val docs = graft.Tables.documents(spark, sf)
    val tokCounts = docs
      .select(col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out.map(_.getLong(0)).toSet == tokCounts.keySet)
    out.foreach { r =>
      val (doc, segs, kept, ratio) =
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))
      assert(segs == math.ceil(tokCounts(doc) / 20.0).toInt)
      assert(kept >= 0 && kept <= segs)
      assert(math.abs(ratio - kept.toDouble / segs) < 1e-4)
    }
    // every distinct segment hash is kept exactly once, so the kept total
    // across docs equals the number of distinct segment md5s in the corpus
    val distinctSegs = docs
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"), posexplode(col("toks")))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("pos"), col("col"))).as("xs"))
      .collect()
      .flatMap { r =>
        val toks = r.getSeq[org.apache.spark.sql.Row](1)
          .sortBy(_.getInt(0)).map(_.getString(1))
        toks.grouped(20).map(_.mkString(" "))
      }.toSet.size
    assert(out.map(_.getLong(2)).sum == distinctSegs)
  }

  test("repeatedNgrams: every reported shingle occurs in >= 2 docs, counts exact") {
    val out = CorpusOps.repeatedNgrams(spark, sf).collect()
    assert(out.nonEmpty)
    val docShingles = graft.Tables.documents(spark, sf)
      .select(col("doc_id"),
        graft.functions.TextFunctions.shingles(
          graft.functions.TextFunctions.tokensLower(col("text")), 5).as("sh"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    out.foreach { r =>
      val (shingle, n) = (r.getString(0), r.getLong(1))
      val exact = docShingles.count(_._2.contains(shingle))
      assert(exact == n && n >= 2, s"$shingle: reported $n, exact $exact")
    }
  }

  test("shardAssign: shards partition the corpus; assignment is key-pure") {
    val out = CorpusOps.shardAssign(spark, sf).collect()
    val total = graft.Tables.documents(spark, sf).count()
    assert(out.map(_.getLong(1)).sum == total)
    assert(out.map(_.getString(0)).forall(s => s.length == 1 && "0123456789abcdef".contains(s)))
    // repartitioning the input must not change the assignment
    val again = CorpusOps.shardAssign(spark, sf).collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      again.map(r => (r.getString(0), r.getLong(1))).toSeq)
  }

  test("cooccurPmi: pair counts never exceed either token's doc frequency") {
    val out = CorpusOps.cooccurPmi(spark, sf, vocabK = 20, k = 30).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (ta, tb, nab, dfa, dfb) = (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getLong(4))
      assert(ta < tb)
      assert(nab <= dfa && nab <= dfb && nab >= 1)
      assert(!r.isNullAt(5))
    }
  }

  test("cleanPipeline: funnel counts are monotone per source and sum to corpus") {
    val out = CorpusOps.cleanPipeline(spark, sf).collect()
    val total = graft.Tables.documents(spark, sf).count()
    assert(out.map(_.getLong(1)).sum == total)
    out.foreach { r =>
      val (raw, lang, q, uniq) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(raw >= lang && lang >= q && q >= uniq)
      val ret = r.getDouble(5)
      assert(ret >= 0.0 && ret <= 1.0)
    }
    // dedup is global: total unique docs equals distinct fingerprints of
    // the quality-passing slice
    val uniqTotal = out.map(_.getLong(4)).sum
    val qTotal = out.map(_.getLong(3)).sum
    assert(uniqTotal <= qTotal && uniqTotal > 0)
  }

  test("dedupIncremental: bloom path equals the plain anti-join; funnel consistent") {
    val out = DedupOps.dedupIncremental(spark, sf).collect()
    // plain formulation without the bloom pre-filter
    val fp = md5(array_join(slice(
      graft.functions.TextFunctions.tokensLower(col("text")), 1, 10), " "))
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), fp.as("fp"))
    val isBatch = substring(md5(col("doc_id").cast("string")), 1, 1) === "f"
    val corpus = docs.filter(!isBatch)
    val batch = docs.filter(isBatch)
    val plainNew = batch.join(corpus.select(col("fp")), Seq("fp"), "left_anti")
      .groupBy(col("source")).agg(count(lit(1)).as("n_new"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      val (src, nb, nn, nd, rate) = (r.getString(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(nn == plainNew.getOrElse(src, 0L),
        s"$src: bloom path kept $nn, plain anti-join kept ${plainNew.get(src)}")
      assert(nb == nn + nd)
      assert(math.abs(rate - nd.toDouble / nb) < 1e-4)
    }
    assert(out.map(_.getLong(1)).sum == batch.count())
  }

  test("latestEvent: one row per user with that user's max timestamp") {
    val out = EventOps.latestEvent(spark, sf)
    val events = graft.Tables.events(spark, sf)
    val expected = events.groupBy(col("user_id"))
      .agg(max(floor(unix_timestamp(col("ts")))).as("max_epoch"))
    assert(out.count() == expected.count())
    val bad = out.join(expected, "user_id")
      .filter(col("epoch") =!= col("max_epoch"))
    assert(bad.count() == 0)
  }

  test("bpeTrainMerges reproduces the hand-computed Sennrich-example merges") {
    // corpus: low×5 lower×2 newest×6 widest×3 — the classic BPE example.
    // Hand-derived pair counts give this exact merge sequence (ties broken
    // by ascending pair):
    //   1. (e,s)=9   2. (es,t)=9   3. (est,</w>)=9
    //   4. (l,o)=7   5. (lo,w)=7   6. (e,w)=6
    val wf = Seq("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val merges = CorpusOps.bpeTrainMerges(wf, 6)
    assert(merges == Seq(
      (0, "e", "s", 9L),
      (1, "es", "t", 9L),
      (2, "est", "</w>", 9L),
      (3, "l", "o", 7L),
      (4, "lo", "w", 7L),
      (5, "e", "w", 6L)))
    // exhaustion: a single 2-char word runs out of pairs and stops early
    val tiny = CorpusOps.bpeTrainMerges(Seq("ab" -> 1L), 10)
    assert(tiny.length == 2) // (a,b) then (ab,</w>)
    assert(tiny.head == ((0, "a", "b", 1L)))
  }

  test("bpeVocab: declared query is deterministic and rank-contiguous") {
    val a = CorpusOps.bpeVocab(spark, sf).collect()
    val b = CorpusOps.bpeVocab(spark, sf).collect()
    assert(a.map(_.toString).sameElements(b.map(_.toString)))
    assert(a.map(_.getInt(0)).toSeq == a.indices.toSeq)
    // every merged symbol is the concatenation of its parts
    a.foreach(r => assert(r.getLong(3) > 0))
  }

  test("bpeApply segments an UNSEEN word into learned subwords") {
    val wf = Seq("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val ranks = CorpusOps.bpeTrainMerges(wf, 6)
      .map { case (r, l, rr, _) => (l, rr) -> r }.toMap
    // "lowest" never appears in training; hand-applying the 6 merges in
    // rank order gives exactly ["low", "est</w>"]
    assert(CorpusOps.bpeApply("lowest", ranks) == Vector("low", "est</w>"))
    // training words round-trip to their fully-merged forms
    assert(CorpusOps.bpeApply("low", ranks) == Vector("low", "</w>"))
    assert(CorpusOps.bpeApply("newest", ranks) == Vector("n", "ew", "est</w>"))
    // no applicable merges: pure character fallback
    assert(CorpusOps.bpeApply("xyz", ranks) == Vector("x", "y", "z", "</w>"))
  }

  test("bpeSegmentTokens: pieces reassemble each token; fertility >= 1") {
    val out = CorpusOps.bpeSegmentTokens(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val tok = r.getString(0)
      val pieces = r.getString(2).split(" ")
      assert(r.getInt(3) == pieces.length)
      assert(pieces.mkString("").stripSuffix("</w>") == tok, tok)
    }
    // high-frequency tokens merge further than rare ones on average
    val (freq, rare) = out.partition(_.getLong(1) >= 50)
    if (freq.nonEmpty && rare.nonEmpty) {
      def fertility(rs: Array[org.apache.spark.sql.Row]) =
        rs.map(_.getInt(3).toDouble).sum / rs.length
      assert(fertility(freq) <= fertility(rare) + 0.5)
    }
  }

  test("chunkDocsStrided: consecutive windows overlap by window-stride tokens") {
    val toks = graft.Tables.documents(spark, sf)
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val out = CorpusOps.chunkDocsStrided(spark, sf).collect()
      .groupBy(_.getLong(0))
    // window 0 is always kept, so EVERY document appears
    assert(out.keySet == toks.keySet)
    out.foreach { case (doc, wins) =>
      val n = toks(doc).length
      wins.foreach { w =>
        val (winId, start, nTok) = (w.getInt(1), w.getInt(2), w.getInt(3))
        assert(start == winId * 32)
        assert(nTok == math.min(64, n - start))
        assert(nTok >= 16 || winId == 0)
        // hash is the md5 of exactly that token window
        val expected = java.security.MessageDigest.getInstance("MD5")
          .digest(toks(doc).slice(start, start + 64).mkString(" ")
            .getBytes("UTF-8")).map("%02x".format(_)).mkString
        assert(w.getString(4) == expected)
      }
      // windows start every 32 tokens, from 0, no gaps
      assert(wins.map(_.getInt(1)).sorted.sameElements(wins.indices))
      // every token is covered by at least one window (tail >= 16 rule
      // only drops tails fully inside the previous window)
      val covered = wins.map(w => (w.getInt(2), w.getInt(2) + w.getInt(3)))
        .sortBy(_._1)
      assert(covered.head._1 == 0 && covered.last._2 == n)
    }
  }

  test("temperatureMix: tempered shares sum to 1 and compress raw shares") {
    val rows = CorpusOps.temperatureMix(spark, sf).collect()
    val raw = rows.map(_.getDouble(2))
    val temp = rows.map(_.getDouble(3))
    assert(math.abs(raw.sum - 1.0) < 1e-2 && math.abs(temp.sum - 1.0) < 1e-2)
    // hand-recompute from the collected token counts
    val n = rows.map(_.getLong(1).toDouble)
    val totPow = n.map(math.pow(_, 0.7)).sum
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(math.abs(r.getDouble(3) - math.pow(n(i), 0.7) / totPow) < 1e-4)
      assert(math.abs(r.getDouble(4) - r.getDouble(3) / (n(i) / n.sum)) < 2e-3)
    }
    // temperature < 1 up-weights small sources, down-weights large ones
    val iMin = n.indexOf(n.min); val iMax = n.indexOf(n.max)
    assert(rows(iMin).getDouble(4) >= 1.0 - 1e-9)
    assert(rows(iMax).getDouble(4) <= 1.0 + 1e-9)
  }

  test("splitReport: ~80/10/10 deterministic split, shares sum per split") {
    val rows = CorpusOps.splitReport(spark, "/root/testdata/sf0.01").collect()
    val bySplit = rows.groupBy(_.getString(0))
    assert(bySplit.keySet == Set("train", "val", "test"))
    val docs = bySplit.view.mapValues(_.map(_.getLong(2)).sum).toMap
    val total = docs.values.sum.toDouble
    assert(docs("train") / total > 0.75 && docs("train") / total < 0.85)
    assert(docs("val") / total > 0.05 && docs("val") / total < 0.15)
    assert(docs("test") / total > 0.05 && docs("test") / total < 0.15)
    // lang shares within each split sum to 1
    bySplit.values.foreach { rs =>
      assert(math.abs(rs.map(_.getDouble(4)).sum - 1.0) < 1e-2)
    }
    // split membership is a pure function of doc_id (stable across runs)
    val again = CorpusOps.splitReport(spark, "/root/testdata/sf0.01").collect()
    assert(rows.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("augmentDropout drops ~1/8 of tokens and hashes the surviving text") {
    val out = CorpusOps.augmentDropout(spark, sf).collect()
    assert(out.nonEmpty)
    val (orig, kept) = (out.map(_.getInt(1).toLong).sum,
      out.map(_.getInt(2).toLong).sum)
    val dropRate = 1.0 - kept.toDouble / orig
    assert(dropRate > 0.08 && dropRate < 0.17, s"drop rate $dropRate")
    // spot-check one doc against a direct recomputation
    val r = out.head
    val text = graft.Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") === r.getLong(0))
      .collect().head.getAs[String]("text")
    val toks = text.trim.split("\\s+")
    val keptToks = toks.zipWithIndex.filter { case (_, i) =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${r.getLong(0)}:$i".getBytes("UTF-8"))
      val hex = md.take(1).map("%02x".format(_)).mkString
      hex >= "20"
    }.map(_._1)
    assert(r.getInt(2) == keptToks.length)
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(keptToks.mkString(" ").getBytes("UTF-8"))
    assert(r.getString(3) == md.map("%02x".format(_)).mkString)
  }

  test("removeDupSpans deletes exactly the positions covered by shared 5-grams") {
    // docs 1 and 2 share the 5-gram "a b c d e" (doc 2 shifted by one
    // token); doc 3 is unique; doc 4 is shorter than 5 tokens.
    val docs = Seq(
      (1L, "a b c d e x y z"),
      (2L, "q a b c d e w"),
      (3L, "p r s t u v"),
      (4L, "tiny doc here")
    ).toDF("doc_id", "text")
    val got = CorpusOps.removeDupSpansDocs(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    // doc 1: positions 0-4 covered -> "x y z" survives
    assert(got(1L) == ((8L, 5L, "x y z")))
    // doc 2: positions 1-5 covered -> "q w" survives
    assert(got(2L) == ((7L, 5L, "q w")))
    // doc 3: nothing shared
    assert(got(3L) == ((6L, 0L, "p r s t u v")))
    // doc 4: no 5-grams at all
    assert(got(4L) == ((3L, 0L, "tiny doc here")))
  }

  test("removeDupSpans overlapping shared grams union their positions") {
    // both docs contain "a b c d e f": grams (a..e) and (b..f) both have
    // df=2; covered positions are the union 0..5
    val docs = Seq(
      (1L, "a b c d e f tail1"),
      (2L, "a b c d e f tail2")
    ).toDF("doc_id", "text")
    val got = CorpusOps.removeDupSpansDocs(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got(1L) == ((7L, 6L, "tail1")))
    assert(got(2L) == ((7L, 6L, "tail2")))
  }

  test("gramNovelty assigns first-occurrence ownership by min doc_id") {
    import spark.implicits._
    // doc1 owns both its 5-grams; doc2 repeats doc1 (novelty 0); doc3
    // shares one gram with doc1 and owns one (novelty 0.5); doc4 is too
    // short for a 5-gram (0 grams, novelty 0.0)
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "a b c d e f"),
      (3L, "a b c d e z"), (4L, "x y"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    withTempDir("novel") { dir =>
      val tmp = dir.toString
      docs.write.parquet(s"$tmp/documents.parquet")
      val out = CorpusOps.gramNovelty(spark, tmp).collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      assert(out(1L) == ((2L, 2L, 1.0)), s"got ${out(1L)}")
      assert(out(2L) == ((2L, 0L, 0.0)), s"got ${out(2L)}")
      assert(out(3L) == ((2L, 1L, 0.5)), s"got ${out(3L)}")
      assert(out(4L) == ((0L, 0L, 0.0)), s"got ${out(4L)}")
    }
  }

  test("dataRecipe matches a hand-rolled tempered sampling plan") {
    import spark.implicits._
    // source a: 12 tokens, source b: 3 tokens; tau=0.7, budget = 2x corpus
    val docs = Seq(
      (1L, "t1 t2 t3 t4 t5 t6", "a"), (2L, "t1 t2 t3 t4 t5 t6", "a"),
      (3L, "u1 u2 u3", "b"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    withTempDir("recipe") { dir =>
      val tmp = dir.toString
      docs.write.parquet(s"$tmp/documents.parquet")
      def r4(x: Double): Double =
        BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val tot = 15.0
      val pw = Map("a" -> math.pow(12.0, 0.7), "b" -> math.pow(3.0, 0.7))
      val totPow = pw.values.sum
      val out = CorpusOps.dataRecipe(spark, tmp).collect()
        .map(r => r.getString(0) -> r).toMap
      for ((src, n) <- Seq(("a", 12L), ("b", 3L))) {
        val share = pw(src) / totPow
        val target = 2.0 * tot * share
        val epochs = target / n
        val row = out(src)
        assert(row.getLong(1) == n)
        assert(row.getDouble(2) == r4(share), s"$src temp_share")
        assert(row.getLong(3) == math.floor(target).toLong, s"$src target")
        assert(row.getDouble(4) == r4(epochs), s"$src epochs")
        assert(row.getDouble(5) == r4(math.min(1.0, epochs)), s"$src rate")
        assert(row.getBoolean(6) == (epochs > 4.0), s"$src over_repeated")
      }
      // at a 2x budget every source averages 2 epochs; tempering must push
      // the big source BELOW 2 and the small one ABOVE 2 (the tau<1 boost)
      assert(out("a").getDouble(4) < 2.0 && out("b").getDouble(4) > 2.0)
    }
  }

  test("splitLeakage counts eval docs sharing >=3 shingles with train") {
    import spark.implicits._
    // recompute the operator's hash-split rule to pick ids per split
    def splitOf(id: Long): String = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 2)
      if (hex < "cc") "train" else if (hex < "e6") "val" else "test"
    }
    val ids = (1L to 400L)
    val tA = ids.find(splitOf(_) == "train").get
    val Seq(vA, vB) = ids.filter(splitOf(_) == "val").take(2)
    val sA = ids.find(splitOf(_) == "test").get
    // tA/vA/sA share a 6-token text -> 4 shared shingles (>= 3): leaked;
    // vB is unique text: clean
    val sharedTxt = "w1 w2 w3 w4 w5 w6"
    val docs = Seq(
      (tA, sharedTxt), (vA, sharedTxt), (sA, sharedTxt),
      (vB, "z1 z2 z3 z4 z5 z6"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    withTempDir("leak") { dir =>
      val tmp = dir.toString
      docs.write.parquet(s"$tmp/documents.parquet")
      val out = CorpusOps.splitLeakage(spark, tmp).collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      assert(out("val") == ((2L, 1L, 0.5)), s"got ${out("val")}")
      assert(out("test") == ((1L, 1L, 1.0)), s"got ${out("test")}")
    }
  }

  test("mutualInfo matches a driver recompute and respects MI bounds") {
    val r = CorpusOps.mutualInfo(spark, sf).collect().head
    val (nTotal, mi, hl, hs, nmi) = (r.getLong(0), r.getDouble(2),
      r.getDouble(3), r.getDouble(4), r.getDouble(5))
    // recompute from the raw contingency table
    val cells = graft.Tables.documents(spark, sf)
      .groupBy(col("lang"), col("source")).count().collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2)))
    val n = cells.map(_._3).sum.toDouble
    val nl = cells.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val ns = cells.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val miX = cells.map { case (l, s, c) =>
      c / n * math.log(c * n / (nl(l) * ns(s)).toDouble) }.sum
    def h(m: Map[String, Long]) =
      -m.values.map(c => c / n * math.log(c / n)).sum
    assert(nTotal == n.toLong)
    assert(math.abs(mi - miX) < 5e-4, s"MI $mi vs $miX")
    assert(math.abs(hl - h(nl)) < 5e-4 && math.abs(hs - h(ns)) < 5e-4)
    // 0 ≤ I ≤ min(H_L, H_S); NMI in [0, 1]
    assert(mi >= -1e-9 && mi <= math.min(hl, hs) + 1e-4)
    assert(nmi >= 0.0 && nmi <= 1.0 + 1e-9, s"nmi $nmi")
    assert(math.abs(nmi - mi / math.sqrt(hl * hs)) < 5e-4)
  }

  test("doremi: weights normalize, monotone in excess, uniform at excess 0") {
    val out = CorpusOps.doremi(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    val nDocs = graft.Tables.documents(spark, sf).count()
    assert(out.map(_._2).sum == nDocs)
    // mixture weights are a distribution (4-decimal rounding slack)
    val mixSum = out.map(_._6).sum
    assert(math.abs(mixSum - 1.0) < 1e-2, s"mix sum $mixSum")
    val alphaSum = out.map(_._5).sum
    assert(math.abs(alphaSum - 1.0) < 1e-2, s"alpha sum $alphaSum")
    // exponentiated-gradient direction: higher excess never gets a lower
    // alpha, and every domain at excess 0 shares one alpha value
    val sorted = out.sortBy(_._4)
    sorted.sliding(2).foreach { case Array(a, b) =>
      assert(a._5 <= b._5 + 1e-9, s"alpha not monotone: $a vs $b")
    }
    val zeroAlphas = out.filter(_._4 == 0.0).map(_._5).distinct
    assert(zeroAlphas.length <= 1)
    // smoothing keeps every domain sampled
    out.foreach { o => assert(o._6 > 0.0, s"domain ${o._1} starved") }
  }

  test("dsir: coverage, ~keepFrac selection, target domain scores higher") {
    val docs = graft.Tables.documents(spark, sf)
    val out = CorpusOps.dsir(spark, sf).collect()
    // one row per doc, deterministic
    assert(out.length == docs.count())
    val again = CorpusOps.dsir(spark, sf).collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
    // percentile-0.8 cut keeps ~20% (strict > drops boundary ties)
    val kept = out.count(_.getBoolean(4))
    assert(kept > 0 && kept <= math.ceil(out.length * 0.2).toInt + 1,
      s"kept $kept of ${out.length}")
    // the importance weight must rank the TARGET domain above the corpus
    // mean — that is the entire point of DSIR (target docs are more likely
    // under the target model than the average doc)
    val srcOf = docs.select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val (tgt, rest) = out.partition(r => srcOf(r.getLong(0)) == "src0")
    def meanLw(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(_.getDouble(2)).sum / rs.length
    assert(meanLw(tgt) > meanLw(rest),
      s"target mean ${meanLw(tgt)} <= rest mean ${meanLw(rest)}")
    // and the kept set must be enriched in target docs vs its base rate
    val keptTgtRate = tgt.count(_.getBoolean(4)).toDouble / math.max(kept, 1)
    val baseTgtRate = tgt.length.toDouble / out.length
    assert(keptTgtRate >= baseTgtRate,
      s"kept target rate $keptTgtRate < base rate $baseTgtRate")
  }

  test("epochShuffle: replayable, seed-sensitive, conserves the corpus") {
    val e1 = CorpusOps.epochShuffle(spark, sf).collect()
    val e2 = CorpusOps.epochShuffle(spark, sf).collect()
    // replayable: the permutation is a pure function of (seed, doc_id)
    assert(e1.map(_.toString).toSeq == e2.map(_.toString).toSeq)
    // every doc lands in exactly one shard; token mass is conserved
    val docs = graft.Tables.documents(spark, sf)
    assert(e1.map(_.getLong(1)).sum == docs.count())
    // a different seed is a different epoch: same corpus totals, but at
    // least one shard's head-of-permutation checksum moves
    val e3 = CorpusOps.epochShuffle(spark, sf, seed = "epoch1").collect()
    assert(e3.map(_.getLong(1)).sum == docs.count())
    def heads(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(heads(e1) != heads(e3),
      "seed change did not move any head checksum")
  }
}
