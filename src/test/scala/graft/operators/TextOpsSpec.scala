package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.functions.TextFunctions

class TextOpsSpec extends SparkTestBase {
  import spark.implicits._

  test("langId heuristic classifies crafted stopword-bearing docs") {
    // mirror the declared query's scoring on controlled input
    val docs = Seq(
      (1L, "the cat and the dog of a house"),        // en
      (2L, "der hund und die katze und das haus"),   // de
      (3L, "el perro y los gatos y las casas"),      // es
      (4L, "le chien et les chats et des maisons")) // fr
      .toDF("doc_id", "text")
      .withColumn("lang", lit("?")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    docs.createOrReplaceTempView("crafted_docs")
    // reuse the operator's internals by running the same select chain
    val toks = TextFunctions.tokensLower(col("text"))
    def cnt(ws: Seq[String]) = TextFunctions.tokenMatchCount(toks, ws)
    val preds = docs.select(col("doc_id"),
      cnt(Seq("the", "a", "of", "and")).as("en_n"),
      cnt(Seq("der", "die", "das", "und")).as("de_n"),
      cnt(Seq("el", "los", "las", "y")).as("es_n"),
      cnt(Seq("le", "les", "des", "et")).as("fr_n"))
      .withColumn("pred",
        when(col("en_n") >= col("de_n") && col("en_n") >= col("es_n")
          && col("en_n") >= col("fr_n"), "en")
          .when(col("de_n") >= col("es_n") && col("de_n") >= col("fr_n"), "de")
          .when(col("es_n") >= col("fr_n"), "es")
          .otherwise("fr"))
      .collect().map(r => r.getLong(0) -> r.getAs[String]("pred")).toMap
    assert(preds == Map(1L -> "en", 2L -> "de", 3L -> "es", 4L -> "fr"))
  }

  test("unigramLogprob matches hand-computed corpus-LM values") {
    // vocab: a=2, b=1, c=1, total=4
    // doc1 = mean(log10(.5), log10(.5), log10(.25)) = -0.40137... -> -0.4014
    // doc2 = log10(.25) = -0.60206 -> -0.6021
    val docs = Seq((1L, "a a b"), (2L, "c")).toDF("doc_id", "text")
    val out = TextOps.unigramLogprobDocs(docs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(out(1L) == ((3L, -0.4014, false)), s"got ${out(1L)}")
    assert(out(2L) == ((1L, -0.6021, false)), s"got ${out(2L)}")
  }

  test("unigramLogprob covers every fixture document with non-positive scores") {
    val out = TextOps.unigramLogprob(spark, sf)
    assert(out.count() == graft.Tables.documents(spark, sf).count())
    assert(out.filter(col("mean_logp") > 0).count() == 0)
  }

  test("bigramLogprob matches hand-computed conditional probabilities") {
    // stream: doc1 (a,b),(b,a),(a,c); doc2 (a,b)
    // c(a,b)=2 c(b,a)=1 c(a,c)=1; prefix counts a=3, b=1
    // doc1 = mean(log10(2/3), log10(1/1), log10(1/3)) = -0.21774 -> -0.2177
    // doc2 = log10(2/3) = -0.17609 -> -0.1761; doc3 has no bigrams
    val docs = Seq((1L, "a b a c"), (2L, "a b"), (3L, "x"))
      .toDF("doc_id", "text")
    val out = TextOps.bigramLogprobDocs(docs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L) == ((3L, -0.2177)), s"got ${out(1L)}")
    assert(out(2L) == ((1L, -0.1761)), s"got ${out(2L)}")
  }

  test("qualityDeciles: buckets partition the corpus with ordered score bounds") {
    val out = TextOps.qualityDeciles(spark, sf).collect()
    assert(out.map(_.getLong(1)).sum == graft.Tables.documents(spark, sf).count())
    out.foreach(r => assert(r.getDouble(2) <= r.getDouble(3))) // lo <= hi
    // bucket score ranges must not overlap and must ascend with decile
    out.sliding(2).foreach {
      case Array(a, b) => assert(a.getDouble(3) <= b.getDouble(2),
        s"decile ${a.getInt(0)} hi ${a.getDouble(3)} > decile ${b.getInt(0)} lo ${b.getDouble(2)}")
      case _ =>
    }
  }

  test("bpeish tokens split words, digits, and punctuation runs") {
    val got = Seq((1L, "hello, world42 x!"))
      .toDF("doc_id", "text")
      .select(TextFunctions.bpeishTokens(col("text")))
      .collect().head.getSeq[String](0)
    assert(got == Seq("hello", ",", "world", "42", "x", "!"))
  }

  test("repetitionStats matches a hand-rolled count on a document sample") {
    val out = TextOps.repetitionStats(spark, sf)
      .filter(col("doc_id") < 20).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    val texts = graft.Tables.documents(spark, sf)
      .filter(col("doc_id") < 20).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet == texts.keySet)
    texts.foreach { case (id, text) =>
      val toks = text.trim.toLowerCase.split("\\s+").toSeq
      val counts = toks.groupBy(identity).view.mapValues(_.length)
      val (n, dup, top) = out(id)
      assert(n == toks.length)
      assert(math.abs(dup - (1.0 - counts.size.toDouble / toks.length)) < 1e-4)
      assert(math.abs(top - counts.values.max.toDouble / toks.length) < 1e-4)
    }
  }

  test("qualityLogistic: p_keep recomputes from features; keep = p >= 0.5") {
    val out = TextOps.qualityLogistic(spark, sf)
      .filter(col("doc_id") < 30).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    val texts = graft.Tables.documents(spark, sf)
      .filter(col("doc_id") < 30).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    texts.foreach { case (id, text) =>
      val toks = text.trim.split("\\s+").toSeq
      val lower = text.trim.toLowerCase.split("\\s+").toSeq
      val n = toks.length.toDouble
      val awl = text.replaceAll("\\s", "").length / n
      val swr = lower.count(Set("the", "a", "of", "and")) / n
      val dup = 1.0 - lower.distinct.length / n
      val z = -1.0 + swr * 8.0 + math.min(n / 100.0, 1.0) * 1.5 -
        dup * 4.0 - math.abs(awl - 5.0) * 0.3
      val p = 1.0 / (1.0 + math.exp(-z))
      val (gotP, gotKeep) = out(id)
      assert(math.abs(gotP - p) < 1e-3, s"doc $id")
      assert(gotKeep == (gotP >= 0.5))
    }
  }

  test("tokenEntropy matches hand-computed Shannon entropy and TTR") {
    val out = TextOps.tokenEntropy(spark, sf)
      .filter(col("doc_id") < 20).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    val texts = graft.Tables.documents(spark, sf)
      .filter(col("doc_id") < 20).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet == texts.keySet)
    texts.foreach { case (id, text) =>
      val toks = text.trim.toLowerCase.split("\\s+").toSeq
      val counts = toks.groupBy(identity).values.map(_.length.toDouble)
      val n = toks.length.toDouble
      val h = counts.map(c => -(c / n) * math.log(c / n)).sum / math.log(2.0)
      val (nTok, ttr, ent) = out(id)
      assert(nTok == toks.length)
      assert(math.abs(ttr - counts.size / n) < 1e-4)
      assert(math.abs(ent - h) < 1e-4, s"doc $id: $ent vs $h")
    }
    // uniform tokens have zero entropy; all-distinct maximal (log2 n)
    val edge = Seq((1L, "x x x x"), (2L, "a b c d")).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    withTempDir("entropy") { dir =>
      val tmp = dir.toString
      edge.write.parquet(s"$tmp/documents.parquet")
      val e = TextOps.tokenEntropy(spark, tmp).collect()
        .map(r => r.getLong(0) -> (r.getDouble(2), r.getDouble(3))).toMap
      assert(e(1L) == ((0.25, 0.0)))
      assert(e(2L) == ((1.0, 2.0)))
    }
  }

  test("tokenFertility matches hand-computed subword/word/char ratios") {
    // "ab cd": bpeish [ab][cd]=2, ws=2, non-ws chars=4
    // "a-b x9y": bpeish [a][-][b][x][9][y]=6, ws=2, non-ws chars=6
    //   en: fertility (2+6)/(2+2)=2.0, chars_per_token (4+6)/(2+6)=1.25
    // "uv wx": de: fertility 2/2=1.0, chars_per_token 4/2=2.0
    val docs = Seq((1L, "ab cd", "en"), (2L, "a-b x9y", "en"),
      (3L, "uv wx", "de"))
      .toDF("doc_id", "text", "lang")
      .withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    withTempDir("fert") { dir =>
      val tmp = dir.toString
      docs.write.parquet(s"$tmp/documents.parquet")
      val out = TextOps.tokenFertility(spark, tmp).collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
      assert(out("en") == ((2L, 2.0, 1.25)), s"got ${out("en")}")
      assert(out("de") == ((1L, 1.0, 2.0)), s"got ${out("de")}")
    }
  }

  test("langTrigram classifies disjoint-alphabet langs perfectly; short doc falls back") {
    // lang aa writes only 'a'-words, lang bb only 'b'-words: their trigram
    // inventories are disjoint, so every doc overlaps only its own profile
    // and the confusion matrix must be exactly diagonal. doc 5 ("x") is too
    // short for a trigram -> deterministic fallback to min(lang) = "aa".
    val docs = Seq(
      (1L, "aaa aaaa aa a aaa", "aa"), (2L, "aa aaa a aaaa", "aa"),
      (3L, "bbb bbbb bb b bbb", "bb"), (4L, "bb bbb b bbbb", "bb"),
      (5L, "x", "aa"))
      .toDF("doc_id", "text", "lang")
      .withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    withTempDir("tri") { dir =>
      val tmp = dir.toString
      docs.write.parquet(s"$tmp/documents.parquet")
      val out = TextOps.langTrigram(spark, tmp).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      assert(out == Seq(("aa", "aa", 3L), ("bb", "bb", 2L)), s"got $out")
    }
  }

  test("typeTokenRatio matches hand-computed TTR and hapax fraction") {
    // source s: tokens a,a,b | a,c -> counts a=3,b=1,c=1:
    //   types=3, tokens=5, ttr=0.6, hapax 2/3=0.6667
    val docs = Seq((1L, "a a b", "s"), (2L, "a c", "s"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    withTempDir("ttr") { dir =>
      val tmp = dir.toString
      docs.write.parquet(s"$tmp/documents.parquet")
      val out = TextOps.typeTokenRatio(spark, tmp).collect()
      assert(out.length == 1)
      val r = out.head
      assert((r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)) == (("s", 3L, 5L, 0.6, 0.6667)),
        s"got $r")
    }
  }

  test("calibration: bins partition the corpus; per-bin stats are self-consistent") {
    val out = TextOps.calibration(spark, sf).collect()
    assert(out.nonEmpty && out.length <= 10)
    val bins = out.map(_.getInt(0)).toSeq
    assert(bins == bins.sorted && bins.forall(b => b >= 0 && b <= 9))
    // every document lands in exactly one bin
    val nDocs = graft.Tables.documents(spark, sf).count()
    assert(out.map(_.getLong(1)).sum == nDocs)
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    out.foreach { r =>
      val (bin, mean, frac, gap) =
        (r.getInt(0), r.getDouble(2), r.getDouble(3), r.getDouble(4))
      // the mean prediction must lie inside its own bin (4-dp slack; the
      // top bin is closed at 1.0)
      assert(mean >= bin / 10.0 - 1e-4 &&
        mean <= (bin + 1) / 10.0 + (if (bin == 9) 1e-4 else 1e-4),
        s"mean_pred outside bin: $r")
      assert(frac >= 0.0 && frac <= 1.0, s"frac_pass: $r")
      assert(gap == r4(math.abs(mean - frac)), s"gap: $r")
    }
    // the outcome variable is the Gopher all-rules pass: corpus-wide the
    // two totals must reconcile with the per-source scorecard
    val passAll = TextOps.gopherRules(spark, sf).collect()
      .map(_.getLong(6)).sum
    val weighted = out.map(r => r.getLong(1) * r.getDouble(3)).sum
    assert(math.abs(weighted - passAll) < 0.5 + 1e-4 * nDocs,
      s"weighted pass $weighted vs scorecard $passAll")
  }

  test("qualityTrain matches a driver-local GD replay and beats the base rate") {
    val r = TextOps.qualityTrain(spark, sf).collect().head
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // replay: collect the features, run the same 25 full-batch steps
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.documents(spark, sf)
    val feats = TextOps.logisticFeaturesDf(docs)
      .join(TextOps.gopherDocFlags(docs).select(col("doc_id"),
        (col("p_wc") && col("p_mwl") && col("p_stop") && col("p_alpha"))
          .cast("double").as("y")), Seq("doc_id"))
      .collect().map { row =>
        val swr = row.getDouble(row.fieldIndex("swr"))
        val nt = row.getDouble(row.fieldIndex("n_toks"))
        val dup = row.getDouble(row.fieldIndex("dupfrac"))
        val awl = row.getDouble(row.fieldIndex("awl"))
        (Array(1.0, swr, math.min(nt / 100.0, 1.0), dup, math.abs(awl - 5.0)),
          row.getDouble(row.fieldIndex("y")))
      }
    var w = Array.fill(5)(0.0)
    for (_ <- 1 to 25) {
      val g = Array.fill(5)(0.0)
      feats.foreach { case (x, y) =>
        val p = 1.0 / (1.0 + math.exp(-x.indices.map(i => x(i) * w(i)).sum))
        for (i <- 0 until 5) g(i) += (p - y) * x(i)
      }
      w = w.indices.map(i => w(i) - 5.0 * g(i) / feats.length).toArray
    }
    val acc = feats.count { case (x, y) =>
      val p = r4(1.0 / (1.0 + math.exp(-x.indices.map(i => x(i) * w(i)).sum)))
      (if (p >= 0.5) 1.0 else 0.0) == y
    }.toDouble / feats.length
    val base = feats.count(_._2 == 1.0).toDouble / feats.length
    assert(r.getLong(1) == feats.length.toLong)
    assert(r.getDouble(2) == r4(base), s"base_rate ${r.getDouble(2)} vs $base")
    assert(r.getDouble(3) == r4(acc), s"train_acc ${r.getDouble(3)} vs $acc")
    val ws = (4 to 8).map(r.getDouble)
    ws.zip(w).foreach { case (got, want) =>
      assert(math.abs(got - r4(want)) <= 1e-4, s"weights $ws vs ${w.toSeq}")
    }
    // the point of training: meaningfully above the majority-class rate
    assert(r.getDouble(3) > r.getDouble(2) + 0.05,
      s"train_acc ${r.getDouble(3)} should beat base ${r.getDouble(2)}")
  }

  test("knBigram matches a driver-local Kneser-Ney computation") {
    def r4(x: Double): Double =
      new java.math.BigDecimal(x).setScale(4,
        java.math.RoundingMode.HALF_UP).doubleValue()
    val out = TextOps.knBigram(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(out.nonEmpty && out.length <= TextOps.KnTopN)
    // reference counts from the same tokenization
    val toks = graft.Tables.documents(spark, sf)
      .select(col("text")).collect()
      .map(_.getString(0).trim.toLowerCase.split("\\s+").toSeq)
      .filter(_.length >= 2)
    val bigrams = toks.flatMap(t => t.zip(t.tail))
    val c12 = bigrams.groupBy(identity).map { case (b, xs) => b -> xs.size }
    val c1 = c12.groupBy(_._1._1).map { case (w, m) => w -> m.values.sum }
    val nAfter = c12.groupBy(_._1._1).map { case (w, m) => w -> m.size }
    val nBefore = c12.groupBy(_._1._2).map { case (w, m) => w -> m.size }
    val nBig = c12.size
    def pkn(w1: String, w2: String): Double =
      math.max(c12((w1, w2)) - TextOps.KnDiscount, 0.0) / c1(w1) +
        ((TextOps.KnDiscount * nAfter(w1)) / c1(w1)) *
          (nBefore(w2).toDouble / nBig)
    out.foreach { case (w1, w2, c, p) =>
      assert(c == c12((w1, w2)).toLong && c >= TextOps.KnMinCount)
      assert(p == r4(pkn(w1, w2)), s"($w1,$w2): $p vs ${pkn(w1, w2)}")
      assert(p > 0.0 && p <= 1.0)
    }
    // the discounted+interpolated mass per prefix stays a probability:
    // the full conditional distribution for the top bigram's prefix sums
    // to 1 up to float noise
    val w1 = out.head._1
    // iterators, not key SETS: a Set.map to Double collapses equal terms
    val total = c12.keys.iterator.filter(_._1 == w1)
      .map { case (a, b) => pkn(a, b) }.sum +
      // unseen continuations get only the backoff term
      nBefore.keys.iterator.filterNot(w2 => c12.contains((w1, w2)))
        .map(w2 => ((TextOps.KnDiscount * nAfter(w1)) / c1(w1)) *
          (nBefore(w2).toDouble / nBig)).sum
    assert(math.abs(total - 1.0) < 1e-9, s"KN mass for '$w1' = $total")
  }

  test("knTrigram matches a driver-local full KN recursion; mass sums to 1") {
    def r4(x: Double): Double =
      new java.math.BigDecimal(x).setScale(4,
        java.math.RoundingMode.HALF_UP).doubleValue()
    val out = TextOps.knTrigram(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(out.nonEmpty && out.length <= TextOps.KnTopN)
    val toks = graft.Tables.documents(spark, sf)
      .select(col("text")).collect()
      .map(_.getString(0).trim.toLowerCase.split("\\s+").toSeq)
    val tris = toks.filter(_.length >= 3)
      .flatMap(t => t.lazyZip(t.tail).lazyZip(t.tail.tail).toSeq)
    val c123 = tris.groupBy(identity).map { case (g, xs) => g -> xs.size }
    val c12dot = c123.groupBy(g => (g._1._1, g._1._2))
      .map { case (k, m) => k -> m.values.sum }
    val nAfter12 = c123.groupBy(g => (g._1._1, g._1._2))
      .map { case (k, m) => k -> m.size }
    val nBefore23 = c123.groupBy(g => (g._1._2, g._1._3))
      .map { case (k, m) => k -> m.size }
    val nMid2 = nBefore23.groupBy(_._1._1)
      .map { case (w, m) => w -> m.values.sum }
    val bigrams = toks.filter(_.length >= 2).flatMap(t => t.zip(t.tail))
    val bset = bigrams.groupBy(identity).map { case (b, xs) => b -> xs.size }
    val nAfter2 = bset.groupBy(_._1._1).map { case (w, m) => w -> m.size }
    val nBefore3 = bset.groupBy(_._1._2).map { case (w, m) => w -> m.size }
    val nBig = bset.size
    val d = TextOps.KnDiscount
    def pLow(w2: String, w3: String): Double =
      math.max(nBefore23.getOrElse((w2, w3), 0) - d, 0.0) / nMid2(w2) +
        ((d * nAfter2(w2)) / nMid2(w2)) * (nBefore3(w3).toDouble / nBig)
    def pkn(w1: String, w2: String, w3: String): Double =
      math.max(c123((w1, w2, w3)) - d, 0.0) / c12dot((w1, w2)) +
        ((d * nAfter12((w1, w2))) / c12dot((w1, w2))) * pLow(w2, w3)
    out.foreach { case (w1, w2, w3, c, p) =>
      assert(c == c123((w1, w2, w3)).toLong && c >= TextOps.KnMinCount)
      assert(p == r4(pkn(w1, w2, w3)), s"($w1,$w2,$w3): $p vs ${pkn(w1, w2, w3)}")
      assert(p > 0.0 && p <= 1.0)
    }
    // the defining KN property: the interpolated conditional distribution
    // for the top trigram's context sums to 1 over ALL continuations w3
    // that the lower level can produce (seen trigram or backoff-only)
    val (cw1, cw2) = (out.head._1, out.head._2)
    val lambda = (d * nAfter12((cw1, cw2))) / c12dot((cw1, cw2))
    val seen = c123.keys.iterator.filter(g => g._1 == cw1 && g._2 == cw2)
      .map { case (a, b, c) => pkn(a, b, c) }.sum
    val unseen = nBefore3.keys.iterator
      .filterNot(w3 => c123.contains((cw1, cw2, w3)))
      .map(w3 => lambda * pLow(cw2, w3)).sum
    assert(math.abs(seen + unseen - 1.0) < 1e-9,
      s"KN trigram mass for '$cw1 $cw2' = ${seen + unseen}")
  }
}
