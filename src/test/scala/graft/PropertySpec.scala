package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.TextFunctions
import graft.operators.DedupOps

/** Property-style tests over generated inputs (scalacheck Gen with a fixed
  * seed for reproducibility): the semantics-bearing invariants from
  * SURVEY.md §5.2(3).
  */
class PropertySpec extends SparkTestBase {
  import spark.implicits._

  private def sample[T](g: Gen[T], n: Int): List[T] =
    (0 until n).toList.flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val docGen: Gen[String] = for {
    n <- Gen.choose(0, 40)
    words <- Gen.listOfN(n, Gen.oneOf(
      "the", "cat", "sat", "on", "a", "mat", "dog", "ran", "fast", "slow"))
  } yield words.mkString(" ")

  test("property: filter + complement always partition the input") {
    val quantities = sample(Gen.choose(-5.0, 60.0), 300) ++ List(0.0, 0.0)
    val df = quantities.zipWithIndex.map { case (q, i) => (i.toLong, q) }
      .toDF("id", "qty")
    val kept = df.filter(col("qty") =!= 0).count()
    val dropped = df.filter(col("qty") === 0).count()
    assert(kept + dropped == df.count())
  }

  test("property: dedup is idempotent") {
    val texts = sample(docGen, 200)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val once = df.groupBy("text").agg(min("doc_id").as("doc_id"))
    val twice = once.groupBy("text").agg(min("doc_id").as("doc_id"))
    assert(once.count() == twice.count())
    assert(once.except(twice).count() == 0)
  }

  test("property: limit is always a subset of the input") {
    val df = sample(Gen.choose(0L, 1000L), 500).toDF("v")
    Seq(0, 1, 7, 100, 10000).foreach { n =>
      val limited = df.limit(n)
      assert(limited.count() == math.min(n, df.count()))
      assert(limited.except(df).count() == 0)
    }
  }

  test("property: timestamp cast is idempotent") {
    val df = sample(Gen.choose(0L, 1700000000L), 200).toDF("epoch")
      .withColumn("s", from_unixtime(col("epoch")))
    val once = df.withColumn("t", to_timestamp(col("s")))
    val twice = once.withColumn("t", to_timestamp(col("t")))
    assert(once.select("t").except(twice.select("t")).count() == 0)
  }

  test("property: shingle count = max(0, distinct of (tokens - n + 1))") {
    val texts = sample(docGen, 150)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
      size(TextFunctions.shingles(TextFunctions.tokens(col("text")))).as("n_sh"),
      size(TextFunctions.tokens(col("text"))).as("n_tok")).collect()
    got.foreach { r =>
      val (nsh, ntok) = (r.getInt(1), r.getInt(2))
      assert(nsh <= math.max(0, ntok - 2))
      if (ntok >= 3) assert(nsh >= 1)
    }
  }

  test("property: asOfJoin equals the per-row brute-force as-of semantics") {
    import java.sql.Timestamp
    val keyGen = Gen.choose(1L, 5L)
    val tsGen = Gen.choose(0L, 100000L)
    val left = sample(Gen.zip(keyGen, tsGen), 120).zipWithIndex
      .map { case ((k, t), i) => (k, new Timestamp(t), i.toLong) }
    val right = sample(Gen.zip(keyGen, tsGen), 80).zipWithIndex
      .map { case ((k, t), i) => (k, new Timestamp(t), 1000L + i) }
    // dedupe right per (key, ts) keeping max id — the operator's precondition
    val rightDeduped = right.groupBy(r => (r._1, r._2.getTime))
      .values.map(_.maxBy(_._3)).toList
    val got = graft.operators.AsOfJoinOps.asOfJoin(
      left.toDF("user_id", "ts", "view_id"),
      rightDeduped.toDF("user_id", "ts", "purchase_id"),
      "user_id", "ts", "purchase_id")
      .collect()
      .map(r => r.getAs[Long]("view_id") ->
        (if (r.isNullAt(r.fieldIndex("purchase_id"))) -1L
         else r.getAs[Long]("purchase_id"))).toMap
    left.foreach { case (k, t, id) =>
      val expected = rightDeduped
        .filter(r => r._1 == k && r._2.getTime <= t.getTime)
        .sortBy(r => (r._2.getTime, r._3)).lastOption.map(_._3).getOrElse(-1L)
      assert(got(id) == expected, s"left row $id key $k ts ${t.getTime}")
    }
  }

  test("property: minhash signature length is constant and pairwise jaccard symmetric bounds hold") {
    val texts = sample(docGen, 80).filter(_.nonEmpty)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val sigs = DedupOps.minhashSignatures(df, 16).collect()
    sigs.foreach(r => assert(r.getSeq[Long](1).length == 16))
  }

  test("property: minhash of a shingle-set union is the elementwise min of the parts") {
    // sig(A ∪ B)[i] = min(sig(A)[i], sig(B)[i]) — the algebraic identity
    // that makes MinHash partial-aggregatable; checked on the scalar path
    val texts = sample(docGen, 40).filter(_.split("\\s+").length >= 3)
    val pairs = texts.grouped(2).collect { case List(a, b) => (a, b) }.toList
    val df = pairs.zipWithIndex.flatMap { case ((a, b), i) =>
      List((i.toLong, "a", a), (i.toLong, "b", b), (i.toLong, "ab", s"$a $b"))
    }.toDF("pair_id", "side", "text")
    val shingleArr = TextFunctions.shingles(TextFunctions.tokensLower(col("text")))
    val sigs = df.select(col("pair_id"), col("side"),
      TextFunctions.minhashArray(shingleArr, 16).as("sig"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> Option(r.getSeq[Long](2)))
      .toMap
    pairs.indices.foreach { i =>
      (sigs((i.toLong, "a")), sigs((i.toLong, "b")), sigs((i.toLong, "ab"))) match {
        case (Some(sa), Some(sb), Some(sab)) =>
          // union text's shingle set ⊇ both parts' sets; the cross-boundary
          // shingles can only LOWER the min, never raise it
          sa.zip(sb).zip(sab).foreach { case ((x, y), u) =>
            assert(u <= math.min(x, y))
          }
        case _ => // a part with < 3 tokens signs as null — skip
      }
    }
  }

  test("property: vectorAvg of k copies of one vector is that vector") {
    import graft.functions.VectorFunctions.vectorAvg
    val vecs = sample(Gen.listOfN(4, Gen.choose(-10.0, 10.0)), 20)
    val df = vecs.zipWithIndex.flatMap { case (v, i) =>
      List.fill(1 + i % 3)((i.toLong, v.toArray))
    }.toDF("g", "v")
    val got = df.groupBy(col("g")).agg(vectorAvg(col("v"), 4).as("m"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    vecs.zipWithIndex.foreach { case (v, i) =>
      got(i.toLong).zip(v).foreach { case (m, x) =>
        assert(math.abs(m - x) < 1e-9)
      }
    }
  }

  test("property: blocked exact top-pairs == local kernel on random vectors") {
    // random dims/sizes, sparse ids (hash-block occupancy uneven), planted
    // zero vectors (non-finite cosine guard), duplicate vectors (ties) —
    // the blocked decomposition must agree with the driver-local kernel
    // bit for bit on all of them
    val dimG = Gen.choose(1, 8)
    (0 until 5).foreach { round =>
      val dim = sample(dimG, 1).head
      val n = 5 + round * 13
      val vals = sample(Gen.listOfN(dim, Gen.choose(-3.0, 3.0)), n)
        .map(_.map(_.toFloat).toArray)
      val withEdge = vals.zipWithIndex.map {
        case (_, i) if i % 11 == 5 => Array.fill(dim)(0.0f) // zero norm
        case (v, i) if i % 7 == 3 && i > 0 => vals(i - 1)   // duplicate
        case (v, _) => v
      }
      val df = withEdge.zipWithIndex
        .map { case (v, i) => (i.toLong * 37 + 5, v) } // sparse, non-dense ids
        .toDF("vec_id", "embedding")
      def rows(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val blocked = rows(DedupOps.embeddingTopPairs(df, k = 7, numBlocks = 3))
      val local = rows(DedupOps.embeddingTopPairsLocal(df, k = 7))
      assert(blocked == local, s"round $round dim $dim n $n")
    }
  }

  test("property: bloom filter never false-negatives on inserted keys") {
    val keys = sample(Gen.choose(Long.MinValue, Long.MaxValue), 500).distinct
    val df = keys.toDF("k")
    val bloom = df.stat.bloomFilter("k", math.max(1000L, keys.size.toLong), 0.01)
    val bytes = graft.functions.SketchFunctions.serialize(bloom)
    // every inserted key must probe true, via the codegen'd expression
    val probed = df.select(
      graft.functions.SketchFunctions.bloomMightContain(col("k"), bytes)
        .as("hit"))
      .collect().map(_.getBoolean(0))
    assert(probed.forall(identity))
    // and the fpp stays in the right order of magnitude on fresh keys
    val fresh = sample(Gen.choose(Long.MinValue, Long.MaxValue), 2000)
      .filterNot(keys.toSet)
    val fps = fresh.toDF("k").select(
      graft.functions.SketchFunctions.bloomMightContain(col("k"), bytes)
        .as("hit")).collect().count(_.getBoolean(0))
    assert(fps < fresh.size * 0.05, s"$fps false positives / ${fresh.size}")
  }

  test("property: nearest_centroid equals the brute-force argmin on random models") {
    for (round <- 0 until 3) {
      val dim = 4 + round * 3
      val k = 3 + round * 2
      val cents = (0 until k).map(c =>
        sample(Gen.choose(-1.0, 1.0), dim).toArray).toArray
      val cids = (0 until k).map(_ * 7 + 1).toArray // non-dense cell ids
      val vecs = (0 until 60).map(i =>
        (i.toLong, sample(Gen.choose(-1.0f, 1.0f), dim).toArray))
      val df = vecs.toDF("vec_id", "embedding")
      val got = df.select(col("vec_id"),
        graft.functions.VectorFunctions.nearestCentroid(
          col("embedding"), cids, cents).as("cell"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      vecs.foreach { case (id, v) =>
        val best = (0 until k).minBy { c =>
          val d = v.map(_.toDouble).zip(cents(c))
            .map { case (a, b) => (a - b) * (a - b) }.sum
          (d, c)
        }
        assert(got(id) == cids(best), s"round $round vec $id")
      }
    }
  }

  test("property: KS and Mann-Whitney invariants on random two-source tables") {
    withTempDir("graft-prop-stat") { dir =>
      val tmp = dir.toString
      val lens = sample(Gen.choose(1L, 60L), 240)
      val rows = lens.zipWithIndex.map { case (n, i) =>
        (i.toLong, if (i % 3 == 0) "a" else "b", n)
      }
      rows.toDF("doc_id", "source", "n_chars")
        .withColumn("text", lit("x")).withColumn("lang", lit("en"))
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val ks = graft.operators.StatOps.ksTest(spark, tmp).collect()
      assert(ks.length == 2)
      // KS is symmetric in the two samples: a-vs-rest == b-vs-rest here
      assert(ks(0).getDouble(2) == ks(1).getDouble(2))
      assert(ks.forall(r => r.getDouble(2) >= 0 && r.getDouble(2) <= 1))
      val mw = graft.operators.StatOps.mannWhitney(spark, tmp).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
      val (na, ua, za) = mw("a"); val (nb, ub, zb) = mw("b")
      // U_a + U_b = n_a * n_b exactly (midranks cancel)
      assert(ua + ub == na.toDouble * nb, s"$ua + $ub != ${na * nb}")
      // the z statistics are antisymmetric up to the 4-decimal rounding
      assert(math.abs(za + zb) <= 0.0002, s"z not antisymmetric: $za $zb")
    }
  }

  test("property: sorted_intersect is commutative, idempotent, bounded") {
    val arrGen = Gen.listOf(Gen.choose(0L, 50L)).map(_.distinct.sorted)
    val pairs = sample(Gen.zip(arrGen, arrGen), 120)
    val df = pairs.zipWithIndex.map { case ((a, b), i) => (i, a, b) }
      .toDF("i", "a", "b")
    import graft.functions.VectorFunctions.sortedIntersect
    val out = df.select(col("i"),
        sortedIntersect(col("a"), col("b")).as("ab"),
        sortedIntersect(col("b"), col("a")).as("ba"),
        sortedIntersect(col("a"), col("a")).as("aa"))
      .collect().map(r => (r.getInt(0), r.getSeq[Long](1), r.getSeq[Long](2),
        r.getSeq[Long](3))).toSeq
    out.foreach { case (i, ab, ba, aa) =>
      val (a, b) = pairs(i)
      assert(ab == ba, s"not commutative at $i")
      assert(aa == a, s"not idempotent at $i")
      assert(ab == a.intersect(b), s"wrong intersection at $i")
    }
  }

  test("property: BPE rank-order application equals the lowest-present-rank loop") {
    // the q_bpe_segment oracle's central claim (SparkEntry.bpeCtes): a
    // TRAINED merge table can be applied one rank at a time, in rank
    // order, each rank replacing all its occurrences left-to-right —
    // provably equivalent to bpeApply's "repeatedly apply the lowest rank
    // present" loop because a merge's components are always products of
    // lower-ranked merges. Verified here on random corpora: train on a
    // random word-frequency table, then check every word (including
    // UNSEEN words drawn from the same alphabet) under both application
    // orders.
    import graft.operators.CorpusOps
    val wordGen: Gen[String] = for {
      n <- Gen.choose(1, 12)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd'))
    } yield cs.mkString
    (0 until 10).foreach { round =>
      val vocab = sample(wordGen, 60).zipWithIndex
        .map { case (w, i) => (w, (i % 7 + 1).toLong) }
        .groupBy(_._1).map { case (w, fs) => (w, fs.map(_._2).sum) }.toSeq
      val merges = CorpusOps.bpeTrainMerges(vocab, numMerges = 15)
      val ranks = merges.map { case (rank, l, r, _) => (l, r) -> rank }.toMap
      // components of merge j must be products of ranks < j — the lemma
      // the equivalence rests on
      val symbolBorn = scala.collection.mutable.Map[String, Int]()
      merges.foreach { case (rank, l, r, _) =>
        def born(s: String): Int = symbolBorn.getOrElse(s, -1)
        assert(born(l) < rank && born(r) < rank,
          s"round $round: merge $rank components born later")
        symbolBorn(l + r) = rank
      }
      def rankOrderApply(word: String): Vector[String] = {
        var syms = word.map(_.toString).toVector :+ "</w>"
        merges.foreach { case (_, l, r, _) =>
          val out = Vector.newBuilder[String]
          var j = 0
          while (j < syms.length) {
            if (j < syms.length - 1 && syms(j) == l && syms(j + 1) == r) {
              out += (l + r); j += 2
            } else { out += syms(j); j += 1 }
          }
          syms = out.result()
        }
        syms
      }
      val testWords = vocab.map(_._1) ++ sample(wordGen, 40)
      testWords.foreach { w =>
        assert(CorpusOps.bpeApply(w, ranks) == rankOrderApply(w),
          s"round $round: divergent segmentation for '$w'")
      }
    }
  }
}
