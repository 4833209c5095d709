package graft.plans

import org.apache.spark.sql.functions._

import graft.{SparkTestBase, Tables}

/** The extensions-registered SQL functions must behave identically to their
  * Column-API counterparts — same expressions underneath, two surfaces. */
class SqlFunctionsSpec extends SparkTestBase {

  test("vector_dot / vector_norm in spark.sql match the Column API") {
    Tables.embeddings(spark, sf).limit(50).createOrReplaceTempView("emb_sql")
    val viaSql = spark.sql(
      """SELECT vec_id,
        |       round(vector_dot(embedding, embedding), 4) AS d,
        |       round(vector_norm(embedding), 4) AS n
        |FROM emb_sql ORDER BY vec_id""".stripMargin).collect()
    val viaApi = Tables.embeddings(spark, sf).limit(50)
      .select(col("vec_id"),
        round(graft.functions.VectorFunctions.dotProduct(
          col("embedding"), col("embedding")), 4).as("d"),
        round(graft.functions.VectorFunctions.l2Norm(col("embedding")), 4).as("n"))
      .orderBy(col("vec_id")).collect()
    assert(viaSql.sameElements(viaApi))
  }

  test("vector_average in spark.sql aggregates element-wise") {
    import spark.implicits._
    Seq(("a", Array(1.0f, 3.0f)), ("a", Array(3.0f, 5.0f)))
      .toDF("g", "v").createOrReplaceTempView("va_sql")
    val got = spark.sql(
      "SELECT g, vector_average(v, 2) AS m FROM va_sql GROUP BY g")
      .head().getSeq[Double](1)
    assert(got == Seq(2.0, 4.0))
  }

  test("word_shingles + minhash_signature compose in SQL") {
    Tables.documents(spark, sf).limit(20).createOrReplaceTempView("docs_sql")
    val rows = spark.sql(
      """SELECT doc_id,
        |       size(word_shingles(split(trim(lower(text)), '\\s+'), 3)) AS n_sh
        |FROM docs_sql ORDER BY doc_id""".stripMargin).collect()
    assert(rows.nonEmpty && rows.forall(_.getInt(1) >= 0))
    // scalar signature per doc — no explode, no shuffle
    val sig = spark.sql(
      """SELECT minhash_array(
        |         word_shingles(split(trim(lower(text)), '\\s+'), 3), 16) AS sig
        |FROM docs_sql""".stripMargin).head().getSeq[Long](0)
    assert(sig.length == 16)
    // aggregate signature over exploded shingles — same family, same result
    val aggSig = spark.sql(
      """SELECT doc_id, minhash_signature(sh, 16) AS sig
        |FROM (SELECT doc_id,
        |        explode(word_shingles(split(trim(lower(text)), '\\s+'), 3)) AS sh
        |      FROM docs_sql)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin).head().getSeq[Long](1)
    val scalarSig = spark.sql(
      """SELECT doc_id, minhash_array(
        |         word_shingles(split(trim(lower(text)), '\\s+'), 3), 16) AS sig
        |FROM docs_sql ORDER BY doc_id""".stripMargin).head().getSeq[Long](1)
    assert(aggSig == scalarSig)
  }

  test("simhash_array in SQL matches the Column-API signature path") {
    Tables.documents(spark, sf).limit(20).createOrReplaceTempView("docs_sh")
    val viaSql = spark.sql(
      """SELECT doc_id, simhash_array(split(trim(lower(text)), '\\s+')) AS sh
        |FROM docs_sh ORDER BY doc_id""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaApi = graft.operators.DedupOps
      .simhashSignaturesScalar(Tables.documents(spark, sf).limit(20))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSql == viaApi)
  }

  test("word_shingles on raw text fails at analysis with a type error") {
    Tables.documents(spark, sf).limit(5).createOrReplaceTempView("docs_raw")
    val e = intercept[Exception] {
      spark.sql("SELECT word_shingles(text, 3) FROM docs_raw").collect()
    }
    assert(e.getMessage.contains("array<string>")
      || e.getMessage.contains("DATATYPE_MISMATCH"))
  }

  test("non-literal dim argument is rejected with a clear error") {
    Tables.embeddings(spark, sf).limit(5).createOrReplaceTempView("emb_bad")
    val e = intercept[Exception] {
      spark.sql("SELECT vector_average(embedding, vec_id) FROM emb_bad").collect()
    }
    assert(e.getMessage.contains("integer literal")
      || e.getMessage.toLowerCase.contains("cannot resolve"))
  }

  test("sorted_intersect equals array_intersect on random sorted arrays") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = Seq.tabulate(200) { i =>
      val a = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong)
        .distinct.sorted
      val b = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong)
        .distinct.sorted
      (i, a, b)
    }
    val df = rows.toDF("i", "a", "b")
    val got = df.select(col("i"),
      graft.functions.VectorFunctions.sortedIntersect(col("a"), col("b"))
        .as("x")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    rows.foreach { case (i, a, b) =>
      val expect = a.intersect(b)
      assert(got(i) == expect, s"row $i: ${got(i)} vs $expect")
    }
    // SQL registration and empty-input behavior
    df.createOrReplaceTempView("si_t")
    val viaSql = spark.sql(
      "SELECT sorted_intersect(a, b) FROM si_t WHERE i = 0").collect()
    assert(viaSql.head.getSeq[Long](0) == rows.head._2.intersect(rows.head._3))
    assert(spark.sql("SELECT sorted_intersect(array(1L,2L), CAST(array() AS ARRAY<BIGINT>))")
      .collect().head.getSeq[Long](0).isEmpty)
  }

  test("sorted_intersect rejects non-bigint arrays at analysis time") {
    val e = intercept[Exception] {
      spark.sql("SELECT sorted_intersect(array('a'), array('b'))").collect()
    }
    assert(e.getMessage.contains("array<bigint>")
      || e.getMessage.contains("DATATYPE_MISMATCH"))
  }

  test("sorted_intersect skips null elements instead of reading them as 0") {
    val r = spark.sql(
      "SELECT sorted_intersect(array(CAST(NULL AS BIGINT), 2L), array(0L, 2L))")
      .collect().head.getSeq[Long](0)
    assert(r == Seq(2L), s"got $r")
  }

  test("jaro_winkler in spark.sql matches the Column-API TextFunctions path") {
    import spark.implicits._
    val pairs = Seq(("martha", "marhta"), ("dixon", "dicksonx"),
      ("aaaaa", "aaaab"), ("abcdxxxxxx", "abcdyyyyyy"), ("ab", "ba"),
      ("", "abc"), ("abc", "abc"))
    val df = pairs.toDF("a", "b")
    df.createOrReplaceTempView("jw_sql")
    val viaSql = spark.sql(
      "SELECT a, b, jaro_winkler(a, b) AS jw FROM jw_sql ORDER BY a, b")
      .collect()
    val viaApi = df
      .select(col("a"), col("b"),
        graft.functions.TextFunctions.jaroWinkler(col("a"), col("b")).as("jw"))
      .orderBy(col("a"), col("b")).collect()
    assert(viaSql.length == pairs.size)
    assert(viaSql.sameElements(viaApi), s"${viaSql.toSeq} vs ${viaApi.toSeq}")
  }

  test("the registered functions are exactly the documented nine, and none " +
      "shadows a Spark builtin") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    val names = Set("vector_dot", "vector_norm", "vector_average",
      "word_shingles", "minhash_signature", "minhash_array", "simhash_array",
      "jaro_winkler", "sorted_intersect")
    val registered = spark.catalog.listFunctions().collect()
      .filter(_.className == classOf[GraftExtensions].getName)
      .map(_.name).toSet
    assert(registered == names)
    val shadowed = names.filter(n =>
      FunctionRegistry.builtin.functionExists(FunctionIdentifier(n)))
    assert(shadowed.isEmpty, shadowed)
  }
}
