package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.StreamBatchJobs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.TimestampType

import graft.{SparkTestBase, StreamGate}
import graft.operators.RelationalOps

class StreamingIngestSpec extends SparkTestBase {

  test("file-stream ingest replays the chunk loop incrementally (R3)") {
    withTempDir("graft-ingest") { base =>
      val in = Files.createDirectories(base.resolve("in"))
      val out = base.resolve("out").toString
      val cp = base.resolve("cp").toString
      val fixture = Paths.get(getClass.getResource("/yellow_sample.csv").getPath)

      // schema from a batch read of the fixture (a production job would pin it)
      val schema = spark.read.option("header", "true").option("inferSchema", "true")
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss[.SSS]XXX")
        .csv(fixture.toString).schema

      Files.copy(fixture, in.resolve("chunk1.csv"), StandardCopyOption.REPLACE_EXISTING)
      val q = StreamingIngest.start(spark, in.toString, schema, out, cp)
      q.processAllAvailable()
      assert(spark.read.parquet(out).count() == 7) // 10 - 3 zero-passenger rows

      // a second arriving file is a new micro-batch, appended exactly once
      Files.copy(fixture, in.resolve("chunk2.csv"), StandardCopyOption.REPLACE_EXISTING)
      q.processAllAvailable()
      q.stop()
      val result = spark.read.parquet(out)
      assert(result.count() == 14)
      assert(result.schema("tpep_pickup_datetime").dataType == TimestampType)
    }
  }

  test("streaming CDC upsert: later batches replace earlier rows by key") {
    import spark.implicits._
    def rows(df: DataFrame): Map[Long, (String, Double)] = df.collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    withTempDir("graft-upsert") { base =>
      val in = Files.createDirectories(base.resolve("in"))
      val target = base.resolve("target").toString
      val cp = base.resolve("cp").toString
      val batches = Seq(
        (1L to 10L).map(k => (k, "v1", k * 10.0)),
        (5L to 15L).map(k => (k, "v2", k * 100.0)),
        (12L to 20L).map(k => (k, "v3", k * 1000.0)),
        ((1L to 3L) ++ (18L to 22L)).map(k => (k, "v4", k * 1.0))
      ).map(_.toDF("k", "ver", "amt"))

      val q = StreamingIngest.startUpsert(spark, in.toString, batches.head.schema,
        "k", target, cp)
      for ((b, i) <- batches.zipWithIndex) {
        // each batch either creates the target or merges into it; every
        // read passes a known schema, so no batch runs a schema-inference
        // job, and the target is compacted back to one file
        val jobs = new StreamBatchJobs(spark.sparkContext, q.id.toString, batchId = i)
        StreamGate.land(b, in, f"f$i%02d.parquet")
        q.processAllAvailable()
        jobs.stop()
        assert(jobs.count >= 1)
        assert(jobs.count <= 4, s"batch ${i + 1} ran ${jobs.count} jobs")
        val files = new java.io.File(target).listFiles()
          .count(_.getName.endsWith(".parquet"))
        assert(files == 1, s"the target holds $files files after batch ${i + 1}")
        val got = rows(spark.read.parquet(target))
        // one row per key: duplicates would collapse in the map above
        assert(spark.read.parquet(target).count() == got.size, s"batch ${i + 1}")
        // equivalence with the batch upsert operator replayed on the same inputs
        assert(got == rows(batches.take(i + 1)
          .reduceLeft(RelationalOps.upsert(_, _, "k"))), s"batch ${i + 1}")
        if (i == 0) assert(got.size == 10)
        if (i == 1) {
          assert(got.size == 15)
          (1L to 4L).foreach(k => assert(got(k) == (("v1", k * 10.0)), s"key $k"))
          (5L to 15L).foreach(k => assert(got(k) == (("v2", k * 100.0)), s"key $k"))
        }
      }
      q.stop()
      assert(rows(spark.read.parquet(target)).size == 22)
    }
  }
}
