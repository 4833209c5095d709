package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.StreamBatchJobs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.TimestampType

import graft.{SparkTestBase, StreamGate}
import graft.operators.RelationalOps
import graft.pipeline.TaxiPipeline

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

  test("chunk files that arrived before start drain in one micro-batch") {
    withTempDir("graft-drain") { base =>
      val in = Files.createDirectories(base.resolve("in"))
      val out = base.resolve("out").toString
      val cp = base.resolve("cp").toString
      val fixture = Paths.get(getClass.getResource("/yellow_sample.csv").getPath)
      val schema = spark.read.option("header", "true").option("inferSchema", "true")
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss[.SSS]XXX")
        .csv(fixture.toString).schema
      // three chunks of the fixture's distinct rows, then the whole fixture
      val header +: rows = Files.readAllLines(fixture).asScala.toSeq
      def chunk(name: String, lines: Seq[String]): String = {
        val p = in.resolve(name)
        Files.write(p, (header +: lines).asJava)
        p.toString
      }
      val backlog = Seq(rows.take(4), rows.slice(4, 7), rows.drop(7))
        .zipWithIndex.map { case (ls, i) => chunk(s"chunk$i.csv", ls) }
      // the rows R4's filter keeps, read as a batch from the same files
      def kept(paths: Seq[String]): Seq[String] =
        TaxiPipeline.castTimestampsIfPresent(TaxiPipeline.dropZeroPassengers(
          spark.read.schema(schema).option("header", "true").csv(paths: _*)))
          .collect().map(_.toString).sorted.toSeq
      def written: Seq[String] =
        spark.read.parquet(out).collect().map(_.toString).sorted.toSeq

      val q = StreamingIngest.start(spark, in.toString, schema, out, cp)
      try {
        q.processAllAvailable()
        // the scan applies R4's filter, so a batch reports the rows it keeps
        def batchesWithRows =
          q.recentProgress.filter(_.numInputRows > 0).map(_.numInputRows).toSeq
        assert(batchesWithRows == Seq(7L),
          q.recentProgress.map(_.json).mkString("\n"))
        // every kept row once: 10 - 3 zero-passenger rows
        assert(written.size == 7)
        assert(written == kept(backlog))

        // a file that lands later is the next micro-batch, appended once
        val late = chunk("chunk3.csv", rows)
        q.processAllAvailable()
        assert(batchesWithRows == Seq(7L, 7L))
        assert(written.size == 14)
        assert(written == kept(backlog :+ late))
      } finally q.stop()
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

  test("streaming CDC upsert: a backlog of files merges one file per batch, " +
      "oldest first") {
    import spark.implicits._
    withTempDir("graft-upsert-order") { base =>
      val in = Files.createDirectories(base.resolve("in"))
      val target = base.resolve("target").toString
      val cp = base.resolve("cp").toString
      val first = (1L to 5L).map(k => (k, "old", k * 1.0)).toDF("k", "ver", "amt")
      val second = (4L to 8L).map(k => (k, "new", k * 10.0)).toDF("k", "ver", "amt")
      // both land before the stream starts; the later file is newer by
      // seconds, and the file source admits files oldest first
      StreamGate.land(first, in, "b.parquet")
      StreamGate.land(second, in, "a.parquet")
      val now = System.currentTimeMillis()
      assert(in.resolve("b.parquet").toFile.setLastModified(now - 20000L))
      assert(in.resolve("a.parquet").toFile.setLastModified(now - 10000L))
      val q = StreamingIngest.startUpsert(spark, in.toString, first.schema,
        "k", target, cp)
      try q.processAllAvailable() finally q.stop()
      val got = spark.read.parquet(target).collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2)))
      // one row per key, and the overlapping keys hold the later file's values
      assert(got.map(_._1).sorted.toSeq == (1L to 8L))
      val byKey = got.toMap
      (1L to 3L).foreach(k => assert(byKey(k) == (("old", k * 1.0)), s"key $k"))
      (4L to 8L).foreach(k => assert(byKey(k) == (("new", k * 10.0)), s"key $k"))
    }
  }
}
