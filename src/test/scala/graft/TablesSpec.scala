package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}

/** [[Tables]]' schema memo: a second read of an unchanged input runs no
  * Spark job and plans as the first, a rewritten input or a changed parquet
  * read setting is inferred again, and reads of one table stay separate
  * relations. The inputs are copied into a fresh directory so that the
  * first read of each is a miss whatever earlier suites in this JVM read. */
class TablesSpec extends SparkTestBase {

  /** Run `body` on a temp directory holding copies of `tables`. */
  private def withFreshDir[T](tables: String*)(body: String => T): T =
    withTempDir("graft-tables-spec") { dir =>
      tables.foreach(t => Files.copy(Path.of(s"$sf/$t.parquet"),
        dir.resolve(s"$t.parquet")))
      body(dir.toString)
    }

  private def dataSchema(df: DataFrame): StructType =
    df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation].dataSchema
    }.get

  private def normalizedPlan(df: DataFrame): String =
    df.queryExecution.sparkPlan.treeString
      .replaceAll("#\\d+L?", "#_").replaceAll("plan_id=\\d+", "plan_id=_")

  test("a second read of an unchanged input runs no Spark job and plans as " +
      "the first") {
    withFreshDir("lineitem", "events") { dir =>
      for (t <- Seq("lineitem", "events")) {
        val (first, firstJobs) = JobCount(spark.sparkContext)(Tables(spark, dir, t))
        assert(firstJobs >= 1, s"$t: the first read should infer its schema")
        val (second, jobs) = JobCount(spark.sparkContext)(Tables(spark, dir, t))
        assert(jobs == 0, s"$t: a known input ran $jobs jobs")
        assert(second.schema == first.schema)
        assert(dataSchema(second) == dataSchema(first))
        assert(second.collect().toSeq == first.collect().toSeq)
        val q = (df: DataFrame) => df.filter(col(df.columns(0)) > 3)
          .select(df.columns.take(3).map(col).toSeq: _*)
        assert(normalizedPlan(q(second)) == normalizedPlan(q(first)))
        assert(second.queryExecution.sparkPlan
          .sameResult(first.queryExecution.sparkPlan))
      }
    }
  }

  test("an input rewritten at the same path is read with its new schema") {
    withTempDir("graft-tables-spec") { dir =>
      val target = dir.resolve("t.parquet")
      def writeFile(df: DataFrame): Unit =
        withTempDir("graft-tables-staging") { s =>
          val staging = s.resolve("o")
          df.coalesce(1).write.parquet(staging.toString)
          val part = Files.list(staging).filter(_.toString.endsWith(".parquet"))
            .findFirst().get
          Files.copy(part, target, StandardCopyOption.REPLACE_EXISTING)
        }
      writeFile(spark.range(0, 5).toDF("a"))
      assert(Tables(spark, dir.toString, "t").columns.toSeq == Seq("a"))
      assert(Tables(spark, dir.toString, "t").columns.toSeq == Seq("a"))
      writeFile(spark.range(0, 7).select(col("id").as("a"), (col("id") * 2).as("b")))
      val (after, jobs) = JobCount(spark.sparkContext)(Tables(spark, dir.toString, "t"))
      assert(jobs >= 1, "a rewritten input should be inferred again")
      assert(after.columns.toSeq == Seq("a", "b"))
      assert(after.agg(sum("b")).head().getLong(0) == 42L)
    }
  }

  test("a changed parquet read setting does not reuse the memo entry") {
    withFreshDir("orders") { dir =>
      val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
      val before = spark.conf.get(key)
      def orderDate(df: DataFrame) = dataSchema(df)("o_orderdate").dataType
      assert(orderDate(Tables.orders(spark, dir)) == TimestampType)
      assert(orderDate(Tables.orders(spark, dir)) == TimestampType)
      try {
        spark.conf.set(key, "true")
        val (ntz, jobs) = JobCount(spark.sparkContext)(Tables.orders(spark, dir))
        assert(jobs >= 1, "a changed read setting should infer again")
        assert(orderDate(ntz) == TimestampNTZType)
        // Tables still hands out the session's timestamp type
        assert(ntz.schema("o_orderdate").dataType == TimestampType)
      } finally spark.conf.set(key, before)
      val (back, jobs) = JobCount(spark.sparkContext)(Tables.orders(spark, dir))
      assert(jobs == 0, "the restored setting's entry should be reused")
      assert(orderDate(back) == TimestampType)
    }
  }

  test("two reads of one table self-join on their own columns") {
    val a = Tables.orders(spark, sf)
    val b = Tables.orders(spark, sf)
    val pairs = a.join(b, a("o_custkey") === b("o_custkey") &&
        a("o_orderkey") < b("o_orderkey"))
      .select(a("o_orderkey"), b("o_orderkey").as("later"))
    val rows = a.select("o_orderkey", "o_custkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val want = rows.toSeq.flatMap { case (k, c) =>
      rows.collect { case (k2, c2) if c2 == c && k < k2 => (k, k2) } }.sorted
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(want.nonEmpty)
    assert(got == want)
  }

  test("q_tpch_q5 and q_tpch_q9 build with no Spark job once their tables " +
      "have been read") {
    for (q <- Seq("q_tpch_q5", "q_tpch_q9")) {
      val first = SparkEntry.queries(q)(spark, sf)
      val (df, jobs) = JobCount(spark.sparkContext)(SparkEntry.queries(q)(spark, sf))
      assert(jobs == 0, s"$q: construction ran $jobs jobs")
      assert(df.collect().toSeq == first.collect().toSeq)
    }
  }
}
