package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkTestBase, Tables}

class MinHashAggSpec extends SparkTestBase {
  import spark.implicits._

  test("typed-imperative MinHash: fixed length, partitioning-invariant") {
    val docs = Tables.documents(spark, sf).limit(100)
    val a = DedupOps.minhashSignatures(docs, 32).orderBy("doc_id")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
    val b = DedupOps.minhashSignatures(docs.repartition(16), 32)
      .orderBy("doc_id")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
    assert(a.length == 100)
    a.foreach { case (_, sig) => assert(sig.length == 32) }
    // merge across partitions must give identical signatures (associativity
    // + commutativity of elementwise min)
    assert(a.zip(b).forall { case ((id1, s1), (id2, s2)) =>
      id1 == id2 && s1 == s2 })
  }

  test("scalar minhash_array equals the aggregate path on the whole corpus") {
    val docs = Tables.documents(spark, sf)
    val agg = DedupOps.minhashSignatures(docs, 32).orderBy("doc_id")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
    val scalar = DedupOps.minhashSignaturesScalar(docs, 32).orderBy("doc_id")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
    assert(agg.length == scalar.length)
    assert(agg.zip(scalar).forall { case ((i1, s1), (i2, s2)) =>
      i1 == i2 && s1 == s2 })
    // and the scalar path plans no shuffle: a single narrow stage
    val p = DedupOps.minhashSignaturesScalar(docs, 32)
      .queryExecution.sparkPlan.toString
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("column md5Salted60 formulation equals the expression paths") {
    // since the round-9 md5-60 port ALL signature builders share one hash
    // family — the min(md5Salted60(i, shingle)) COLUMN form is exactly
    // what the DuckDB oracle replicates, so its agreement with the JVM
    // expression paths is what ties the oracle to the shipped operators
    // (the shipped builders themselves use the raw-digest aggregate,
    // which skips the hex/conv allocations — see
    // DedupOps.minhashSignaturesFromShingles)
    import graft.functions.TextFunctions.{md5Salted60, shingles, tokensLower}
    val docs = Tables.documents(spark, sf).limit(100)
    val ex = docs.select(col("doc_id"),
      explode(shingles(tokensLower(col("text")))).as("shingle"))
    val aggs = (0 until 32)
      .map(i => min(md5Salted60(i, col("shingle"))).as(s"mh_$i"))
    val colPath = ex.groupBy(col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        array((0 until 32).map(i => col(s"mh_$i")): _*).as("sig"))
      .orderBy("doc_id")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
    val scalar = DedupOps.minhashSignaturesScalar(docs, 32)
      .filter(col("doc_id").isin(colPath.map(_._1): _*)).orderBy("doc_id")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
    assert(colPath.nonEmpty && colPath.length == scalar.length)
    assert(colPath.zip(scalar).forall { case ((i1, s1), (i2, s2)) =>
      i1 == i2 && s1 == s2 })
    // and the shipped aggregate path agrees with the same column form
    val aggPath = DedupOps.minhashSignatures(docs, 32).orderBy("doc_id")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
    assert(aggPath.toSeq == colPath.toSeq)
  }

  test("shingle-less docs: scalar path drops them, matching the agg path") {
    val df = Seq(
      (1L, "too short"), // < 3 tokens -> no shingles
      (2L, "this document has plenty of tokens for shingling"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val agg = DedupOps.minhashSignatures(df, 16).collect()
    val scalar = DedupOps.minhashSignaturesScalar(df, 16).collect()
    assert(agg.map(_.getLong(0)).toSet == Set(2L))
    assert(scalar.map(_.getLong(0)).toSet == Set(2L))
    assert(agg.head.getSeq[Long](1) == scalar.head.getSeq[Long](1))
  }

  test("identical texts yield identical aggregate signatures; distinct differ") {
    val df = Seq(
      (1L, "the cat sat on the mat today again"),
      (2L, "the cat sat on the mat today again"),
      (3L, "an entirely different document text here"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val sigs = DedupOps.minhashSignatures(df, 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
  }
}
