package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkTestBase, Tables}

/** Scale-technique tests: salted joins, bucketed co-located joins, and the
  * LSH near-dup path — the mechanisms the 100 TB posture relies on.
  */
class ScaleSpec extends SparkTestBase {

  test("saltedJoin is semantically identical to the plain join") {
    val big = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("key"), col("l_quantity"),
        col("l_linenumber"))
    val small = Tables.orders(spark, sf)
      .select(col("o_orderkey").as("key"), col("o_totalprice"))
    val plain = big.join(small, "key")
    val salted = SkewUtils.saltedJoin(big, small, "key", factor = 8,
      bigSaltSource = Seq("l_linenumber"))
    assert(salted.count() == plain.count())
    val sumPlain = plain.agg(round(sum(col("l_quantity") * col("o_totalprice")), 2))
      .collect().head.getDouble(0)
    val sumSalted = salted.agg(round(sum(col("l_quantity") * col("o_totalprice")), 2))
      .collect().head.getDouble(0)
    assert(math.abs(sumPlain - sumSalted) < 1e-6)
  }

  test("bucketed tables join without a shuffle exchange") {
    // warehouse.dir is a static conf — write external bucketed tables to a
    // temp path instead
    withTempDir("graft-wh") { dir =>
      val wh = dir.toString
      Tables.lineitem(spark, sf)
        .select("l_orderkey", "l_quantity")
        .write.mode("overwrite").option("path", s"$wh/li")
        .bucketBy(4, "l_orderkey")
        .sortBy("l_orderkey").saveAsTable("li_bucketed")
      Tables.orders(spark, sf)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite").option("path", s"$wh/ord")
        .bucketBy(4, "o_orderkey")
        .sortBy("o_orderkey").saveAsTable("ord_bucketed")
      val joined = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
      val p = joined.queryExecution.sparkPlan.toString
      assert(!p.contains("Exchange hashpartitioning"), p)
      assert(joined.count() == Tables.lineitem(spark, sf).count())
    }
  }

  test("blocked distributed exact top-pairs equals the driver-local kernel at both SFs") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val emb = Tables.embeddings(spark, dir)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(rows(DedupOps.embeddingTopPairs(emb)) ==
        rows(DedupOps.embeddingTopPairsLocal(emb)), s"mismatch at $dir")
    }
  }

  test("embedding top-pairs skips non-finite cosines from zero-norm vectors") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.5f, 0.5f)),
      (3L, Array(0.0f, 0.0f))). // zero norm -> cosine NaN against anything
      toDF("vec_id", "embedding")
    val out = DedupOps.embeddingTopPairs(df, k = 10, numBlocks = 2).collect()
    assert(out.length == 1) // only the (1,2) pair survives
    assert(out.head.getLong(0) == 1L && out.head.getLong(1) == 2L)
    val outLocal = DedupOps.embeddingTopPairsLocal(df, k = 10).collect()
    assert(outLocal.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      == out.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq)
  }

  test("LSH near-dup pairs are a subset of brute-force pairs at the same threshold") {
    val emb = Tables.embeddings(spark, sf)
    val thr = 0.6
    val lsh = DedupOps.embeddingNearDupLsh(emb, thr)
      .select("va", "vb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force ground truth at the same threshold
    val e = emb.select(col("vec_id"), col("embedding"),
      graft.functions.VectorFunctions.l2Norm(col("embedding")).as("nrm"))
    val brute = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        (graft.functions.VectorFunctions.dotProduct(
          col("a.embedding"), col("b.embedding"))
          / (col("a.nrm") * col("b.nrm"))).as("cos"))
      .filter(col("cos") >= thr)
      .select("va", "vb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(brute))
    // LSH must also return every cos >= threshold pair that shares a bucket
    assert(DedupOps.embeddingNearDupLsh(emb, thr)
      .filter(col("cos_sim") < thr).count() == 0)
  }

  test("embed-rep equals the per-vector fold of the LSH pair set") {
    // the representative form must be EXACTLY what folding the pair-
    // emitting form per vector gives: rep = min earlier same-bucket
    // neighbor at threshold, count = number of such neighbors
    val emb = Tables.embeddings(spark, sf)
    val pairs = DedupOps.embeddingNearDupLsh(emb, 0.25, numPlanes = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expectRep = pairs.groupBy(_._2).map { case (vb, g) =>
      vb -> ((g.map(_._1).min, g.length.toLong)) }
    val got = DedupOps.dedupEmbedRep(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.size == emb.count())
    expectRep.foreach { case (v, (rep, n)) => assert(got(v) == ((rep, n)), s"vec $v") }
    // vectors with no earlier near-dup keep themselves
    got.filterNot { case (v, _) => expectRep.contains(v) }
      .foreach { case (v, (rep, n)) => assert(rep == v && n == 0L, s"vec $v") }
  }
}
