package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkTestBase, Tables}

class SimilaritySpec extends SparkTestBase {

  test("bruteForceTopK: k rows per query, cosine in [-1,1], descending") {
    val rows = SimilarityOps.simTopK(spark, sf).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L))
    byQ.values.foreach { g =>
      assert(g.length == 10)
      val cs = g.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(cs.forall(c => c >= -1.0001 && c <= 1.0001))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
  }

  test("self-similarity of a vector with itself is 1") {
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 3)
    val self = SimilarityOps.bruteForceTopK(emb, emb, 5)
    // probe: join each query against itself was excluded
    assert(self.filter(col("q_id") === col("cand_id")).count() == 0)
  }

  test("knnLabel predicts the cluster label on crafted separable embeddings") {
    import spark.implicits._
    // two tight clusters along orthogonal axes; probes 0/1 sit in one each
    val dim = SimilarityOps.EmbeddingDim
    def vec(axis: Int, jitter: Float) = {
      val v = Array.fill(dim)(0.001f); v(axis) = 1.0f; v(axis + 2) = jitter; v
    }
    val rows =
      Seq((0L, vec(0, 0.05f), 9), (1L, vec(1, 0.05f), 9)) ++ // probes (true_label 9)
        (10 to 14).map(i => (i.toLong, vec(0, 0.01f * i), 1)) ++ // cluster A, label 1
        (20 to 24).map(i => (i.toLong, vec(1, 0.01f * i), 2)) // cluster B, label 2
    rows.map { case (id, v, l) => (id, v.toSeq, l) }
      .toDF("vec_id", "embedding", "label")
      .createOrReplaceTempView("crafted_emb")
    // run the same vote chain against the crafted frame via a temp Tables
    // stand-in: knnLabel reads Tables.embeddings, so inline its logic here
    val emb = spark.table("crafted_emb")
    val probes = emb.filter(col("vec_id") < 2)
    val train = emb.filter(col("vec_id") >= 2)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("n_votes").desc, col("label"))
    val out = SimilarityOps.bruteForceTopK(probes, train, 5)
      .join(train.select(col("vec_id").as("cand_id"), col("label")), Seq("cand_id"))
      .groupBy(col("q_id"), col("label"))
      .agg(count(lit(1)).as("n_votes"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(out(0L) == ((1, 5L)), s"probe 0 got ${out(0L)}") // all 5 votes from cluster A
    assert(out(1L) == ((2, 5L)), s"probe 1 got ${out(1L)}")
  }

  test("knnLabel fixture output: one row per probe, votes bounded by k") {
    val out = SimilarityOps.knnLabel(spark, sf).collect()
    assert(out.map(_.getLong(0)).toSet == (0L until 10L).toSet)
    assert(out.forall(r => r.getLong(2) >= 1L && r.getLong(2) <= 10L))
  }

  test("annTopK results agree with exact cosine for the pairs it returns") {
    val emb = Tables.embeddings(spark, sf)
    val ann = SimilarityOps.simLsh(spark, sf)
      .select(col("q_id"), col("cand_id"), col("cos_sim"))
    val exact = SimilarityOps.bruteForceTopK(
      emb.filter(col("vec_id") < 5), emb, Int.MaxValue)
      .select(col("q_id"), col("cand_id"), col("cos_sim").as("cos_exact"))
    val joined = ann.join(exact, Seq("q_id", "cand_id"), "left")
    assert(joined.filter(col("cos_exact").isNull).count() == 0)
    assert(joined.filter(abs(col("cos_sim") - col("cos_exact")) > 1e-9).count() == 0)
  }

  test("annTopK is a subset ordering: rn contiguous from 1 per query") {
    val rows = SimilarityOps.simLsh(spark, sf).collect()
    rows.groupBy(_.getLong(0)).values.foreach { g =>
      val rns = g.map(_.getInt(1)).sorted
      assert(rns.sameElements(1 to rns.length))
    }
  }

  test("vectorAvg matches posexplode mean; null vectors skipped; all-null is null") {
    import graft.functions.VectorFunctions.vectorAvg
    import spark.implicits._
    val df = Seq(
      ("a", Some(Array(1.0f, 2.0f, 3.0f))),
      ("a", Some(Array(3.0f, 6.0f, 9.0f))),
      ("a", None),
      ("b", None)
    ).toDF("g", "v")
    val got = df.groupBy($"g").agg(vectorAvg($"v", 3).as("m"))
      .collect().map(r => r.getString(0) -> Option(r.getSeq[Double](1))).toMap
    assert(got("b").isEmpty)
    assert(got("a").get.zip(Seq(2.0, 4.0, 6.0)).forall { case (x, y) => math.abs(x - y) < 1e-12 })
    // double input too
    val d = df.filter($"v".isNotNull)
      .select($"g", transform($"v", _.cast("double")).as("v"))
      .groupBy($"g").agg(vectorAvg($"v", 3).as("m"))
      .head().getSeq[Double](1)
    assert(d.zip(Seq(2.0, 4.0, 6.0)).forall { case (x, y) => math.abs(x - y) < 1e-12 })
  }

  test("vectorAvg rejects non-array input at analysis time") {
    import graft.functions.VectorFunctions.vectorAvg
    import spark.implicits._
    val df = Seq(("a", 1.0)).toDF("g", "v")
    val e = intercept[Exception] {
      df.groupBy($"g").agg(vectorAvg($"v", 3)).collect()
    }
    assert(e.getMessage.toLowerCase.contains("array") ||
      e.getMessage.contains("DATATYPE_MISMATCH"))
  }

  test("quantizeEmbeddings: levels within int8 range, checksums match a hand-rolled pass") {
    val out = SimilarityOps.quantizeEmbeddings(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2), r.getLong(3)))
      .toMap
    val raw = graft.Tables.embeddings(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    assert(out.keySet == raw.map(_._1).toSet)
    raw.foreach { case (id, v) =>
      val scale = v.map(math.abs).max / 127.0
      val levels =
        if (scale == 0) v.map(_ => 0L)
        else v.map(x => math.floor(x / scale + 0.5).toLong)
      assert(levels.forall(l => l >= -127 && l <= 127), s"vec $id out of range")
      val (_, qSum, qNorm) = out(id)
      assert(qSum == levels.sum, s"vec $id q_sum")
      assert(qNorm == levels.map(l => l * l).sum, s"vec $id q_norm")
    }
  }

  test("sparseSimPairs: sims in (0,1]; identical docs score 1; self-pairs absent") {
    val rows = SimilarityOps.sparseSimPairs(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.5 && r.getDouble(2) <= 1.0 + 1e-9)
    }
    // ordering: non-increasing similarity
    val sims = rows.map(_.getDouble(2))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    // planted identical documents share identical signatures -> sim 1.0
    import spark.implicits._
    withTempDir("sparsesim") { dir =>
      val tmp = dir.toString
      Seq((1L, "alpha beta gamma delta epsilon"),
        (2L, "alpha beta gamma delta epsilon"),
        (3L, "totally different words here now"))
        .toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("t"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.parquet(s"$tmp/documents.parquet")
      // samplePrefix "ff" ~= full corpus: the planted ids must all survive
      val planted = SimilarityOps.sparseSimPairs(spark, tmp, samplePrefix = "ff")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(math.abs(planted((1L, 2L)) - 1.0) < 1e-9)
      assert(!planted.contains((1L, 3L)) && !planted.contains((2L, 3L)))
    }
  }

  test("hardNegatives: labels always differ, ranks dense, cosine descending") {
    val out = SimilarityOps.hardNegatives(spark, sf).collect()
    assert(out.nonEmpty)
    val byQ = out.groupBy(_.getLong(0))
    byQ.foreach { case (_, rows) =>
      assert(rows.map(_.getInt(1)).sorted.sameElements(1 to rows.length))
      val sims = rows.sortBy(_.getInt(1)).map(_.getDouble(5))
      assert(sims.sameElements(sims.sortBy(-(_: Double))))
      rows.foreach(r => assert(r.getInt(3) != r.getInt(4), s"same label: $r"))
    }
    // each mined negative must beat every unmined different-label candidate:
    // spot-check q 0 against the exact different-label ranking
    val emb = graft.Tables.embeddings(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    val (q, qv, ql) = emb.find(_._1 == 0L).get
    def cos(a: Array[Float], b: Array[Float]) = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
        * math.sqrt(b.map(x => x.toDouble * x.toDouble).sum))
    }
    val expect = emb.filter(e => e._3 != ql && e._1 != q)
      .map(e => (e._1, BigDecimal(cos(qv, e._2))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .sortBy { case (id, c) => (-c, id) }.take(3).map(_._1).toSeq
    val got = byQ(0L).sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
    assert(got == expect, s"got $got expect $expect")
  }

  test("captionDedup flags same-embedding different-caption pairs only") {
    import spark.implicits._
    def v(i: Int): Array[Float] = {
      val a = Array.fill(64)(0f); a(i) = 1f; a
    }
    withTempDir("capdd") { dir =>
      val tmp = dir.toString
      Seq((1L, v(0), 0), (2L, v(0), 0), (3L, v(1), 1), (4L, v(1), 1))
        .toDF("vec_id", "embedding", "label")
        .write.parquet(s"$tmp/embeddings.parquet")
      Seq((1L, "p q r s t"), (2L, "x y z w u"),       // same vec, diff text
        (3L, "m n o p q"), (4L, "m n o p q"))          // same vec, same text
        .toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("t"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.parquet(s"$tmp/documents.parquet")
      val out = graft.operators.MultimodalOps.captionDedup(spark, tmp).collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getDouble(2), r.getDouble(3), r.getBoolean(4)))).toMap
      assert(out((1L, 2L)) == ((1.0, 0.0, true)), s"got ${out((1L, 2L))}")
      assert(out((3L, 4L)) == ((1.0, 1.0, false)), s"got ${out((3L, 4L))}")
      // orthogonal cross pairs are below the cosine bar: never flagged
      assert(out.forall { case (k, v) =>
        k == (1L, 2L) || k == (3L, 4L) || !v._3 })
      // the LSH scale sibling: every pair it emits appears in the exact
      // report with the identical scores and flag, and the two planted
      // identical-vector pairs (same sign bucket by construction) are found
      val lsh = graft.operators.MultimodalOps.captionDedupLsh(spark, tmp)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getDouble(2), r.getDouble(3), r.getBoolean(4)))).toMap
      lsh.foreach { case (k, v) => assert(out(k) == v, s"$k: $v vs ${out(k)}") }
      assert(lsh.contains((1L, 2L)) && lsh.contains((3L, 4L)))
    }
  }

  test("jacobiEigenvalues matches the closed-form 2x2 spectrum") {
    val eig = SimilarityOps.jacobiEigenvalues(
      Array(Array(2.0, 1.0), Array(1.0, 2.0))).sorted(Ordering[Double].reverse)
    assert(math.abs(eig(0) - 3.0) < 1e-12 && math.abs(eig(1) - 1.0) < 1e-12,
      s"got ${eig.toSeq}")
  }

  test("fixed 6-sweep Jacobi is converged on a 64x64 (vs 24 sweeps)") {
    // the oracle replays EXACTLY JacobiSweeps sweeps, so the fixed count
    // must already be converged far below the round-4 output grid; pin it
    // against a 4x-longer run on a seeded random symmetric matrix
    val n = SimilarityOps.EmbeddingDim
    val rnd = new scala.util.Random(7)
    val m = Array.fill(n, n)(rnd.nextGaussian())
    val sym = Array.tabulate(n, n)((i, j) =>
      graft.operators.IvfOps.stable6((m(i)(j) + m(j)(i)) / 2.0))
    val fixed = SimilarityOps.jacobiEigenvalues(sym,
      SimilarityOps.JacobiSweeps).sorted
    val long = SimilarityOps.jacobiEigenvalues(sym, 24).sorted
    val maxDiff = fixed.zip(long).map { case (a, b) =>
      math.abs(a - b) }.max
    // 1e-6 = 50x margin under the round-4 output grid (5e-5 to a grid
    // boundary); measured ~4e-7 on this near-degenerate random spectrum,
    // ~4e-9 on the real embedding covariance. Cross-engine equality never
    // depends on this — both engines run the SAME fixed count — the pin
    // guards the reported spectrum's truthfulness at display precision.
    assert(maxDiff < 1e-6, s"6-sweep spectrum off by $maxDiff")
  }

  test("embedPca recovers an exact planted 2-component spectrum") {
    import spark.implicits._
    // variance only in dims 0 (var 4) and 1 (var 1), uncorrelated:
    // eigenvalues 4, 1, 0... -> ratios 0.8, 0.2; cumulative 0.8, 1.0
    def v(a: Float, b: Float): Array[Float] =
      Array(a, b) ++ Array.fill(62)(0f)
    withTempDir("pca") { dir =>
      val tmp = dir.toString
      Seq((1L, v(2f, 1f), 0), (2L, v(2f, -1f), 0),
        (3L, v(-2f, 1f), 1), (4L, v(-2f, -1f), 1))
        .toDF("vec_id", "embedding", "label")
        .write.parquet(s"$tmp/embeddings.parquet")
      val out = SimilarityOps.embedPca(spark, tmp).collect()
        .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      assert(out.length == 8)
      assert(out(0) == ((0, 4.0, 0.8, 0.8)), s"got ${out(0)}")
      assert(out(1) == ((1, 1.0, 0.2, 1.0)), s"got ${out(1)}")
      out.drop(2).foreach { case (_, ev, ratio, cum) =>
        assert(math.abs(ev) < 1e-6 && math.abs(ratio) < 1e-6
          && math.abs(cum - 1.0) < 1e-6)
      }
    }
  }

  test("embedPca spectrum invariants on the real fixture") {
    val out = SimilarityOps.embedPca(spark, sf).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(out.map(_._1).toSeq == (0 until 8))
    // PSD: eigenvalues nonnegative (4-dp rounding floor), sorted descending
    assert(out.forall(_._2 >= -1e-4))
    assert(out.map(_._2).toSeq == out.map(_._2).sorted(
      Ordering[Double].reverse).toSeq)
    // ratios in [0,1], cumulative non-decreasing and <= 1
    assert(out.forall(r => r._3 >= -1e-4 && r._3 <= 1.0001))
    val cums = out.map(_._4).toSeq
    assert(cums.zip(cums.tail).forall { case (a, b) => b >= a - 1e-9 })
    assert(cums.last <= 1.0001)
  }
}
