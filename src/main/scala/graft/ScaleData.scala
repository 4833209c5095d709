package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Writes a scaled data directory: `copies` key-shifted copies of a source
  * directory's tables, as `$out/<table>.parquet`, for [[Bench]] to time with
  * `SPARK_GRAFT_SF_DIR=$out`. Ten copies of sf0.1 stand in for sf1.
  *
  * Copy i adds i × step to each shifted key column (see [[Layout]]):
  *  - lineitem and orders shift their order keys. `l_partkey` shifts with
  *    `p_partkey`, and `o_custkey` with `c_custkey`, so each copy is a
  *    disjoint catalog and customer base, as TPC-H grows part and customer
  *    with the scale factor. A fixed partkey would collapse the copies'
  *    co-purchase edges onto the same pairs and turn the graph queries
  *    into a pure scan test.
  *  - events shift `event_id` and `user_id`: more users, each with the same
  *    history.
  *  - documents shift `doc_id` and embeddings `vec_id` by the same step,
  *    so `vec_id = doc_id` still pairs a vector with its document.
  *  - supplier, nation and region are copied once.
  *
  * The corpus is perturbed per copy, so the copies are not near-duplicates
  * of each other and the dedup operators see candidates grow with the
  * data: from copy 1 on, every 4th token of a document (`j % 4 = 3`) gets
  * the tag `c<i>`, and every embedding value gains 0.001·i. The first token
  * stays as it is, or every copy's documents would share one prefix block.
  * Copy 0 is the source, row for row.
  *
  *   sbt "runMain graft.ScaleData <srcDir> <copies> <outDir>"
  */
object ScaleData {
  /** Each table's key columns with their per-copy step, and the number of
    * files it is written as. A table with no key columns is copied once. */
  val Layout: Seq[(String, Seq[(String, Long)], Int)] = Seq(
    ("lineitem", Seq("l_orderkey" -> 100000000L, "l_partkey" -> 10000000L), 32),
    ("orders", Seq("o_orderkey" -> 100000000L, "o_custkey" -> 10000000L), 16),
    ("part", Seq("p_partkey" -> 10000000L), 8),
    ("customer", Seq("c_custkey" -> 10000000L), 8),
    ("events", Seq("event_id" -> 10000000L, "user_id" -> 1000000L), 16),
    ("documents", Seq("doc_id" -> 1000000L), 16),
    ("embeddings", Seq("vec_id" -> 1000000L), 8),
    ("supplier", Nil, 1),
    ("nation", Nil, 1),
    ("region", Nil, 1))

  /** Copy `i`'s corpus perturbation; copy 0 and the other tables pass
    * through. */
  private def perturb(table: String, df: DataFrame, i: Int): DataFrame =
    (table, i) match {
      case (_, 0) => df
      case ("documents", _) =>
        df.withColumn("text", array_join(expr(
          s"transform(split(text, ' '), (x, j) -> IF(j % 4 = 3, concat('c$i', x), x))"),
          " "))
          .withColumn("n_chars", length(col("text")).cast("long"))
      case ("embeddings", _) =>
        df.withColumn("embedding",
          expr(s"transform(embedding, x -> x + cast(${i * 0.001} as float))"))
      case _ => df
    }

  def write(spark: SparkSession, src: String, out: String, copies: Int): Unit = {
    require(copies >= 1, s"copies must be at least 1, got $copies")
    Layout.foreach { case (table, keys, files) =>
      val base = Tables(spark, src, table)
      (0 until (if (keys.isEmpty) 1 else copies)).map { i =>
        perturb(table, keys.foldLeft(base) { case (df, (c, step)) =>
          df.withColumn(c, col(c) + lit(i * step))
        }, i)
      }.reduce(_ union _)
        .repartition(files).write.mode("overwrite").parquet(s"$out/$table.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleData <srcDir> <copies> <outDir>")
    val Array(src, copies, out) = args
    val spark = GraftSession.builder("graft-scale-data").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    write(spark, src, out, copies.toInt)
    Layout.foreach { case (table, _, _) =>
      println(s"[scaledata] $table ${Tables(spark, out, table).count()} rows")
    }
    spark.stop()
  }
}
