package graft.pipeline

import java.io.{FileInputStream, FileOutputStream}
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPOutputStream

import org.apache.spark.{JobCount, ListenerBusDrain, StageTasks}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, TimestampType}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.{Args, Status}

import graft.SparkTestBase
import graft.sources._

class TaxiPipelineSpec extends SparkTestBase {

  /** The suite's scratch directory (databases, downloads, exports), made
    * around the whole run and deleted when its last test ends. */
  private var tmp: String = _
  override def run(testName: Option[String], args: Args): Status =
    withTempDir("graft-pipe") { dir => tmp = dir.toString; super.run(testName, args) }

  private def res(name: String): String =
    getClass.getResource(s"/$name").getPath

  private def gzip(src: String, dest: String): String = {
    val out = new GZIPOutputStream(new FileOutputStream(dest))
    val in = new FileInputStream(src)
    in.transferTo(out); in.close(); out.close()
    dest
  }

  private def config(color: String) = TaxiPipeline.Config(
    outputDir = s"$tmp/out_$color",
    taxiColor = color, year = 2021, month = 1,
    jdbcUrl = s"jdbc:derby:$tmp/db_$color;create=true",
    bucketDir = s"$tmp/bucket_$color",
    warehouseDir = s"$tmp/wh_$color")

  /** A yellow config under `name`, with its own directories and database. */
  private def fresh(name: String, cap: Int = 100000) = config("yellow").copy(
    outputDir = s"$tmp/${name}_out", bucketDir = s"$tmp/${name}_bucket",
    warehouseDir = s"$tmp/${name}_wh",
    jdbcUrl = s"jdbc:derby:$tmp/${name}_db;create=true", exportRowCap = cap)

  /** A fresh config whose database holds the ingested yellow sample. */
  private def ingested(name: String, cap: Int = 100000) = {
    val c = fresh(name, cap)
    TaxiPipeline.ingest(spark, res("yellow_sample.csv"), c)
    c
  }

  /** The export's three artifacts: the local parquet, the bucket object and
    * the warehouse table. */
  private def artifacts(c: TaxiPipeline.Config): Seq[String] = Seq(
    s"${c.outputDir}/${TaxiPipeline.tableName(c)}.parquet",
    s"${c.bucketDir}/${TaxiPipeline.tableName(c)}.parquet",
    s"${c.warehouseDir}/${TaxiPipeline.datasetName(c)}/taxi_data")

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def sortedRows(path: String): Seq[String] =
    sortedRows(spark.read.parquet(path))

  private def fileNames(dir: String): Set[String] =
    new java.io.File(dir).listFiles().map(_.getName).toSet

  test("CsvSource reads gzipped CSV with header + inferred schema (R2)") {
    val gz = gzip(res("yellow_sample.csv"), s"$tmp/y.csv.gz")
    val df = CsvSource(gz).read(spark)
    assert(df.count() == 10)
    assert(df.schema("passenger_count").dataType.typeName == "integer")
  }

  test("dropZeroPassengers keeps nulls, drops zeros (R4 pandas semantics)") {
    val df = CsvSource(res("yellow_sample.csv")).read(spark)
    val kept = TaxiPipeline.dropZeroPassengers(df)
    assert(df.filter(col("passenger_count") === 0).count() == 3)
    assert(kept.count() == 7) // 10 - 3 zeros; the null row survives
    assert(kept.filter(col("passenger_count").isNull).count() == 1)
  }

  test("castTimestampsIfPresent: yellow cast, green untouched (R7 quirk)") {
    val yellow = TaxiPipeline.castTimestampsIfPresent(
      CsvSource(res("yellow_sample.csv")).read(spark))
    assert(yellow.schema("tpep_pickup_datetime").dataType == TimestampType)
    val greenRaw = spark.read.option("header", "true").csv(res("green_sample.csv"))
    val green = TaxiPipeline.castTimestampsIfPresent(greenRaw)
    assert(green.schema("lpep_pickup_datetime").dataType == StringType)
  }

  test("ParquetSink writes Hive-style partition layout (R15)") {
    val df = CsvSource(res("yellow_sample.csv")).read(spark)
      .withColumn("taxi_color", lit("yellow"))
      .withColumn("year", lit(2021)).withColumn("month", lit(1))
    ParquetSink(s"$tmp/part", partitionBy = Seq("taxi_color", "year", "month"))
      .write(df)
    assert(Files.exists(Paths.get(s"$tmp/part/taxi_color=yellow/year=2021/month=1")))
    val back = spark.read.parquet(s"$tmp/part")
      .filter(col("taxi_color") === "yellow" && col("year") === 2021)
    assert(back.count() == 10)
  }

  test("Compactor rewrites a fragmented dataset to the target file count") {
    val in = s"$tmp/frag"
    val out = s"$tmp/compacted"
    val docs = graft.Tables.documents(spark, sf)
    docs.repartition(40).write.mode("overwrite").parquet(in)
    val dir = new java.io.File(in)
    assert(dir.listFiles().count(_.getName.endsWith(".parquet")) == 40)
    val (before, after) = Compactor.compact(spark, in, out,
      targetBytes = 1L << 30)
    assert(before == 40 && after == 1, s"$before -> $after")
    // byte-identical content, just fewer files
    assert(spark.read.parquet(out).orderBy("doc_id").collect()
      .sameElements(docs.orderBy("doc_id").collect()))
  }

  test("CsvSource reads gzip CSV parts with a pinned schema") {
    val src = graft.Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    src.write.mode("overwrite").option("header", "true")
      .option("compression", "gzip").csv(s"$tmp/csv_orders")
    val parts = new java.io.File(s"$tmp/csv_orders").listFiles()
      .map(_.getName).filter(_.endsWith(".gz"))
    assert(parts.nonEmpty, "expected .csv.gz part files")
    val back = CsvSource(s"$tmp/csv_orders", schema = Some(src.schema))
      .read(spark)
    assert(back.schema == src.schema)
    assert(back.count() == src.count())
    assert(back.agg(sum(col("o_orderkey"))).head.getLong(0)
      == src.agg(sum(col("o_orderkey"))).head.getLong(0))
  }

  test("CsvSource reads a malformed field as null and does not fail the scan") {
    import org.apache.spark.sql.types._
    val p = s"$tmp/bad.csv"
    Files.writeString(Paths.get(p), "k,v\n1,ok\nbroken,x\n3,fine\n")
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType)))
    val rows = CsvSource(p, schema = Some(schema)).read(spark)
      .orderBy("v").collect().map(r => (Option(r.getAs[Any]("k")), r.getString(1)))
    assert(rows.toSeq == Seq((Some(3L), "fine"), (Some(1L), "ok"), (None, "x")))
  }

  test("end-to-end pipeline: fetch -> ingest(Derby) -> export -> re-read (R1-R17)") {
    val c = config("yellow")
    val url = s"file://${res("yellow_sample.csv")}"
    val back = TaxiPipeline.run(spark, url, c)
    // 10 rows - 3 zero-passenger rows = 7 survive ingest
    assert(back.count() == 7)
    assert(back.schema("tpep_pickup_datetime").dataType == TimestampType)
    // object-store and warehouse artifacts exist
    assert(Files.exists(Paths.get(s"${c.bucketDir}/yellow_2021_1.parquet")))
    assert(Files.exists(Paths.get(
      s"${c.warehouseDir}/${TaxiPipeline.datasetName(c)}/taxi_data")))
    // JDBC roundtrip preserved the data
    val db = JdbcSource(c.jdbcUrl, TaxiPipeline.tableName(c)).read(spark)
    assert(db.count() == 7)
  }

  test("end-to-end pipeline on a gzipped download: same counts as plain CSV") {
    val c = config("yellow").copy(
      outputDir = s"$tmp/gz_out", bucketDir = s"$tmp/gz_bucket",
      warehouseDir = s"$tmp/gz_wh", jdbcUrl = s"jdbc:derby:$tmp/gz_db;create=true")
    val gz = gzip(res("yellow_sample.csv"), s"$tmp/yellow_sample.csv.gz")
    val csv = TaxiPipeline.downloadCsv(s"file://$gz", c)
    // the gzip codec applies: the header reads back as the taxi columns
    assert(csv.getFileName.toString == "trip_data.csv.gz")
    assert(spark.read.option("header", "true").csv(csv.toString).columns
      .sameElements(CsvSource(res("yellow_sample.csv")).read(spark).columns))
    val back = TaxiPipeline.run(spark, s"file://$gz", c)
    assert(back.count() == 7)
    assert(back.schema("tpep_pickup_datetime").dataType == TimestampType)
    assert(JdbcSource(c.jdbcUrl, TaxiPipeline.tableName(c)).read(spark)
      .count() == 7)
  }

  test("JdbcSource partitioned read: parallel range queries, same rows (R9)") {
    val c = config("yellow") // reuses the Derby db the e2e test populated
    val url = s"file://${res("yellow_sample.csv")}"
    TaxiPipeline.run(spark, url, c)
    val serial = JdbcSource(c.jdbcUrl, TaxiPipeline.tableName(c)).read(spark)
    val parallel = JdbcSource(c.jdbcUrl, TaxiPipeline.tableName(c),
      partitionColumn = Some(("VendorID", 1L, 3L, 2))).read(spark)
    assert(parallel.rdd.getNumPartitions == 2)
    assert(parallel.count() == serial.count())
    assert(parallel.agg(sum(col("fare_amount"))).collect().head.getDouble(0)
      == serial.agg(sum(col("fare_amount"))).collect().head.getDouble(0))
  }

  test("green pipeline: lpep columns pass through uncast (deployment default)") {
    val c = config("green")
    val url = s"file://${res("green_sample.csv")}"
    val back = TaxiPipeline.run(spark, url, c)
    assert(back.count() == 6) // 8 - 2 zeros
    assert(back.schema("lpep_pickup_datetime").dataType == StringType)
  }

  test("ingest's quality counts ride the append: no aggregate query, and " +
      "only the inference scan and the append read the file") {
    val aggregates = new java.util.concurrent.atomic.AtomicInteger
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.optimizedPlan.exists(_.isInstanceOf[Aggregate]))
          aggregates.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // (counts, stages that ran tasks, stages that read every data row of
    // the file); each job here is one stage
    def ingest(csv: String, name: String, rows: Long)
        : ((Long, Long, Long), Int, Int) = {
      // an earlier test's query events may still be queued on the bus
      ListenerBusDrain(spark.sparkContext)
      aggregates.set(0)
      spark.listenerManager.register(listener)
      val (counts, jobs, stages) =
        try StageTasks(spark.sparkContext)(
          TaxiPipeline.ingest(spark, csv, fresh(name)))
        finally spark.listenerManager.unregister(listener)
      assert(aggregates.get == 0, s"$csv: ${aggregates.get} aggregate queries")
      // the fourth job is the schema-only write's: an empty relation, so
      // Spark posts it with no stage to run
      assert(jobs == 4, s"$csv: $jobs jobs: ${stages.mkString(", ")}")
      (counts, stages.size, stages.count(_.recordsRead >= rows))
    }
    // the header, the inference scan and the append; the last two read
    // the whole file
    assert(ingest(res("yellow_sample.csv"), "agg_yellow", 10) ==
      (((10L, 3L, 0L), 3, 2)))
    assert(ingest(res("green_sample.csv"), "agg_green", 8) ==
      (((8L, 2L, 0L), 3, 2)))
    val plain = Files.writeString(Paths.get(s"$tmp/no_passengers.csv"),
      "VendorID,fare_amount\n1,5.0\n2,7.5\n")
    assert(ingest(plain.toString, "agg_plain", 2) == (((2L, 0L, 0L), 3, 2)))
  }

  test("ingest's observed counts on header-only files are zeros, and " +
      "ingest returns") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    // the counts arrive with the append: a file with no rows must still
    // report them rather than leave `ingest` waiting, with and without a
    // passenger_count column
    val taxiHeader = Files.readAllLines(Paths.get(res("yellow_sample.csv"))).get(0)
    for ((header, name) <- Seq((taxiHeader, "edge_taxi"),
        ("VendorID,fare_amount", "edge_plain"))) {
      val csv = Files.writeString(Paths.get(s"$tmp/$name.csv"), header + "\n")
      val c = fresh(name)
      assert(Await.result(Future(TaxiPipeline.ingest(spark, csv.toString, c)),
        2.minutes) == ((0L, 0L, 0L)), name)
      assert(JdbcSource(c.jdbcUrl, TaxiPipeline.tableName(c)).read(spark)
        .count() == 0, name)
    }
  }

  test("ingest stores no zero-passenger row, and keeps the null ones (R4-R6)") {
    // ingest's zeroAfter is 0 by construction (it counts zeros among the
    // rows the filter keeps); this checks the filter on what was stored
    for ((csv, name, kept) <- Seq(("yellow_sample.csv", "r4_yellow", 7L),
        ("green_sample.csv", "r4_green", 6L))) {
      val c = fresh(name)
      TaxiPipeline.ingest(spark, res(csv), c)
      val db = JdbcSource(c.jdbcUrl, TaxiPipeline.tableName(c)).read(spark)
      assert(db.count() == kept, csv)
      assert(db.filter(col("passenger_count") === 0).count() == 0, csv)
      assert(db.filter(col("passenger_count").isNull).count() ==
        CsvSource(res(csv)).read(spark)
          .filter(col("passenger_count").isNull).count(), csv)
    }
  }

  test("exportToCloud runs one JDBC scan and one parquet write, and no " +
      "schema-inference job") {
    val c = ingested("export_jobs")
    val (back, jobs, stages) =
      StageTasks(spark.sparkContext)(TaxiPipeline.exportToCloud(spark, c))
    // the cap runs in the database, so the scan feeds the write directly:
    // one job, no shuffle
    assert(jobs == 1, s"$jobs jobs: ${stages.mkString(", ")}")
    val scans = stages.filter(_.recordsRead > 0)
    assert(scans.size == 1 && scans.head.recordsRead == 7, stages.mkString(", "))
    assert(stages.count(_.bytesWritten > 0) == 1, stages.mkString(", "))
    // reading the result back plans with the written schema, still no job
    val (schema, readJobs) = JobCount(spark.sparkContext)(back.schema)
    assert(readJobs == 0 && schema.fieldNames.contains("tpep_pickup_datetime"))
    assert(back.count() == 7)
  }

  test("the local parquet, the bucket and the warehouse hold identical rows") {
    for (cap <- Seq(100000, 3)) {
      val c = ingested(s"same_$cap", cap)
      val back = TaxiPipeline.exportToCloud(spark, c)
      val Seq(local, bucket, warehouse) = artifacts(c).map(sortedRows)
      assert(local.size == math.min(cap, 7))
      assert(bucket == local, s"cap $cap: the bucket differs")
      assert(warehouse == local, s"cap $cap: the warehouse differs")
      assert(sortedRows(back) == local)
    }
  }

  test("a second export doubles the warehouse rows and replaces the bucket") {
    val c = ingested("export_twice")
    val Seq(localDir, bucketDir, warehouseDir) = artifacts(c)
    TaxiPipeline.exportToCloud(spark, c)
    val firstParts = fileNames(bucketDir).filter(_.startsWith("part-"))
    TaxiPipeline.exportToCloud(spark, c)
    val Seq(local, bucket, warehouse) = artifacts(c).map(sortedRows)
    assert(local.size == 7)
    assert(bucket == local)
    assert(warehouse == (local ++ local).sorted)
    val parts = fileNames(localDir).filter(_.startsWith("part-"))
    assert(fileNames(bucketDir).filter(_.startsWith("part-")) == parts)
    assert(parts.intersect(firstParts).isEmpty, "the bucket kept old parts")
    assert(fileNames(warehouseDir).filter(_.startsWith("part-")) ==
      parts ++ firstParts)
    // no staged copy is left behind
    for (dir <- Seq(c.bucketDir, bucketDir, warehouseDir))
      assert(fileNames(dir).forall(n => !n.startsWith("_") || n == "_SUCCESS"),
        fileNames(dir))
  }

  test("exportRowCap limits the export like the reference's first chunk (R10)") {
    val c = config("yellow").copy(
      outputDir = s"$tmp/cap_out", bucketDir = s"$tmp/cap_bucket",
      warehouseDir = s"$tmp/cap_wh", jdbcUrl = s"jdbc:derby:$tmp/cap_db;create=true",
      exportRowCap = 3)
    val url = s"file://${res("yellow_sample.csv")}"
    assert(TaxiPipeline.run(spark, url, c).count() == 3)
  }
}
