package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.types.TimestampType

import graft.SparkTestBase

class StreamingIngestSpec extends SparkTestBase {

  test("file-stream ingest replays the chunk loop incrementally (R3)") {
    val base = Files.createTempDirectory("graft-ingest")
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

  test("streaming CDC upsert: later batches replace earlier rows by key") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-upsert")
    val in = Files.createDirectories(base.resolve("in")).toString
    val target = base.resolve("target").toString
    val cp = base.resolve("cp").toString

    val staging = Files.createDirectories(base.resolve("staging")).toString
    val b1 = (1L to 10L).map(k => (k, "v1", k * 10.0)).toDF("k", "ver", "amt")
    b1.coalesce(1).write.parquet(s"$staging/b1")
    // a parquet dir per batch won't stream; stage single files instead
    def stage(src: String, name: String): Unit = {
      val part = new java.io.File(src).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, Paths.get(s"$in/$name"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    stage(s"$staging/b1", "f1.parquet")

    val q = StreamingIngest.startUpsert(spark, in, b1.schema, "k", target, cp)
    q.processAllAvailable()
    assert(spark.read.parquet(target).count() == 10)

    val b2 = (5L to 15L).map(k => (k, "v2", k * 100.0)).toDF("k", "ver", "amt")
    b2.coalesce(1).write.parquet(s"$staging/b2")
    // batch 2 merges into an existing target: both of its reads pass a known
    // schema, so it runs no schema-inference job
    val batch2 = new org.apache.spark.StreamBatchJobs(
      spark.sparkContext, q.id.toString, batchId = 1)
    stage(s"$staging/b2", "f2.parquet")
    q.processAllAvailable()
    q.stop()
    batch2.stop()
    assert(batch2.count >= 1)
    assert(batch2.count <= 4, s"batch 2 ran ${batch2.count} jobs")

    val got = spark.read.parquet(target).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(got.size == 15)
    (1L to 4L).foreach(k => assert(got(k) == (("v1", k * 10.0)), s"key $k"))
    (5L to 15L).foreach(k => assert(got(k) == (("v2", k * 100.0)), s"key $k"))
    // equivalence with the batch upsert operator on the same inputs
    val batchMerged = graft.operators.RelationalOps.upsert(b1, b2, "k")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(got == batchMerged)
  }
}
