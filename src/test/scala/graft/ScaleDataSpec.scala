package graft

import java.nio.file.Path

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.{Args, Status}

/** [[ScaleData]] over the test directory: row counts, key uniqueness,
  * foreign keys, copy 0 against the source, the corpus perturbation, and
  * declared queries running on the written directory. */
class ScaleDataSpec extends SparkTestBase {
  private val Copies = 3

  /** Made around the whole run and deleted when its last test ends. */
  private var root: Path = _
  override def run(testName: Option[String], args: Args): Status =
    withTempDir("graft-scale-data") { dir => root = dir; super.run(testName, args) }

  private lazy val out: String = {
    val dir = root.resolve("sf").toString
    ScaleData.write(spark, sf, dir, Copies)
    dir
  }

  private def src(t: String): DataFrame = Tables(spark, sf, t)
  private def scaled(t: String): DataFrame = Tables(spark, out, t)

  /** Rows of copy `i` of a copied table, told apart by its first key. */
  private def copy(t: String, i: Int): DataFrame = {
    val (key, step) = ScaleData.Layout.find(_._1 == t).get._2.head
    scaled(t).filter(col(key) >= i * step && col(key) < (i + 1) * step)
  }

  private val copied = ScaleData.Layout.filter(_._2.nonEmpty).map(_._1)

  test("copied tables hold copies × the rows; supplier, nation and region 1×") {
    assert(copied.toSet == Set("lineitem", "orders", "events", "documents",
      "embeddings", "part", "customer"))
    ScaleData.Layout.foreach { case (t, keys, _) =>
      val factor = if (keys.isEmpty) 1 else Copies
      assert(scaled(t).count() == factor * src(t).count(), t)
    }
  }

  test("copies share no key; keys are unique where the source's are") {
    def distinctKeys(df: DataFrame, keys: Seq[String]): Long =
      df.select(keys.map(col): _*).distinct().count()
    Seq("lineitem" -> Seq("l_orderkey", "l_linenumber"),
      "orders" -> Seq("o_orderkey"), "part" -> Seq("p_partkey"),
      "customer" -> Seq("c_custkey"), "events" -> Seq("event_id"),
      "documents" -> Seq("doc_id"), "embeddings" -> Seq("vec_id"))
      .foreach { case (t, keys) =>
        assert(distinctKeys(scaled(t), keys) == Copies * distinctKeys(src(t), keys), t)
        // the generated lineitem repeats some (l_orderkey, l_linenumber)
        if (t != "lineitem") assert(distinctKeys(scaled(t), keys) == scaled(t).count(), t)
      }
  }

  test("every l_partkey finds a part and every o_custkey a customer") {
    assert(scaled("lineitem").join(scaled("part"),
      col("l_partkey") === col("p_partkey"), "left_anti").count() == 0)
    assert(scaled("orders").join(scaled("customer"),
      col("o_custkey") === col("c_custkey"), "left_anti").count() == 0)
  }

  test("copy 0 equals the source row for row") {
    ScaleData.Layout.foreach { case (t, keys, _) =>
      val c0 = if (keys.isEmpty) scaled(t) else copy(t, 0)
      assert(c0.count() == src(t).count(), t)
      assert(c0.exceptAll(src(t)).isEmpty, t)
      assert(src(t).exceptAll(c0).isEmpty, t)
    }
  }

  test("copies 1 and up differ from the source in text and embedding") {
    (1 until Copies).foreach { i =>
      val docs = copy("documents", i).select(
        (col("doc_id") - i * 1000000L).as("doc_id"), col("text").as("t_i"))
        .join(src("documents"), "doc_id")
      assert(docs.count() == src("documents").count())
      // every 4th token is tagged, so a text of 4 or more tokens changes
      val long = docs.filter(size(split(col("text"), " ")) >= 4)
      assert(long.count() > 0)
      assert(long.filter(col("t_i") === col("text")).isEmpty, s"copy $i")

      val vecs = copy("embeddings", i).select(
        (col("vec_id") - i * 1000000L).as("vec_id"), col("embedding").as("e_i"))
        .join(src("embeddings"), "vec_id")
      assert(vecs.count() == src("embeddings").count())
      assert(vecs.filter(col("e_i") === col("embedding")).isEmpty, s"copy $i")
    }
  }

  test("declared queries run on the written directory") {
    Seq("q_tpch_q9", "q_kcore", "q_dedup_minhash", "q_knn_graph").foreach { q =>
      assert(FullExec.count(SparkEntry.queries(q)(spark, out)) > 0, q)
    }
  }
}
