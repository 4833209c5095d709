package graft.pipeline

import java.io.{FileInputStream, FileOutputStream}
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPOutputStream

import org.apache.spark.{JobCount, StageTasks}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, TimestampType}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkTestBase
import graft.sources._

class TaxiPipelineSpec extends SparkTestBase {

  private lazy val tmp = Files.createTempDirectory("graft-pipe").toString
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
    assert(TaxiPipeline.zeroPassengerCount(df) == 3)
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

  test("OrcSink/OrcSource roundtrip preserves rows, schema and partitions") {
    val src = graft.Tables.orders(spark, sf)
      .withColumn("yr", year(col("o_orderdate")))
    OrcSink(s"$tmp/orc_orders", partitionBy = Seq("yr")).write(src)
    val back = OrcSource(s"$tmp/orc_orders").read(spark)
    assert(back.count() == src.count())
    assert(back.columns.sorted.sameElements(src.columns.sorted))
    // partition pruning: a yr filter must prune to that partition's rows
    val yrs = src.groupBy(col("yr")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val someYr = yrs.keys.min
    assert(back.filter(col("yr") === someYr).count() == yrs(someYr))
    // and the pruning is PLAN-level (directory skip), not a post-scan filter
    val p = back.filter(col("yr") === someYr)
      .queryExecution.sparkPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("yr"), p)
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

  test("ParquetSource mergeSchema unions evolved file schemas") {
    import spark.implicits._
    val dir = s"$tmp/evolve"
    Seq((1L, "x")).toDF("id", "a").write.mode("overwrite").parquet(dir)
    Seq((2L, 9.5)).toDF("id", "c").write.mode("append").parquet(dir)
    val merged = ParquetSource(dir, mergeSchema = true).read(spark)
    assert(merged.columns.sorted.toSeq == Seq("a", "c", "id"))
    assert(merged.count() == 2)
    // old files surface the new column as null, and vice versa
    assert(merged.filter(col("id") === 1L).head().getAs[Any]("c") == null)
    assert(merged.filter(col("id") === 2L).head().getAs[Any]("a") == null)
  }

  test("ParquetSource infers once per input and mergeSchema setting") {
    import spark.implicits._
    val dir = s"$tmp/evolve_memo"
    def read(merge: Boolean) =
      JobCount(spark.sparkContext)(ParquetSource(dir, merge).read(spark))
    Seq((1L, "x")).toDF("id", "a").write.mode("overwrite").parquet(dir)
    Seq((2L, 9.5)).toDF("id", "c").write.mode("append").parquet(dir)
    for (merge <- Seq(false, true)) {
      val (first, firstJobs) = read(merge)
      assert(firstJobs >= 1, s"mergeSchema=$merge: the first read should infer")
      val (second, jobs) = read(merge)
      assert(jobs == 0, s"mergeSchema=$merge: unchanged files ran $jobs jobs")
      assert(second.schema == first.schema)
      assert(sortedRows(second) == sortedRows(first))
    }
    assert(read(true)._1.columns.sorted.toSeq == Seq("a", "c", "id"))
    // a file with a new column changes the input: both settings infer again
    Seq((3L, true)).toDF("id", "d").write.mode("append").parquet(dir)
    for (merge <- Seq(false, true)) {
      val (after, jobs) = read(merge)
      assert(jobs >= 1, s"mergeSchema=$merge: a changed input was not inferred")
      assert(after.count() == 3)
      if (merge) assert(after.columns.sorted.toSeq == Seq("a", "c", "d", "id"))
    }
  }

  test("JsonSink/JsonSource roundtrip: gzip JSON lines, schema-pinned re-read") {
    val src = graft.Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    JsonSink(s"$tmp/json_orders").write(src)
    // gzip codec actually applied (JSON lines stay splittable per file)
    val files = new java.io.File(s"$tmp/json_orders").listFiles()
      .map(_.getName).filter(_.endsWith(".gz"))
    assert(files.nonEmpty, "expected .json.gz part files")
    // schema-pinned read: no inference pass, exact dtypes back
    val back = JsonSource(s"$tmp/json_orders", schema = Some(src.schema))
      .read(spark)
    assert(back.schema == src.schema)
    assert(back.count() == src.count())
    assert(back.agg(sum(col("o_orderkey"))).head.getLong(0)
      == src.agg(sum(col("o_orderkey"))).head.getLong(0))
    // inferred read still counts the same rows (types may widen)
    assert(JsonSource(s"$tmp/json_orders").read(spark).count() == src.count())
  }

  test("CsvSink/CsvSource roundtrip: gzip parts, schema-pinned re-read") {
    val src = graft.Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    CsvSink(s"$tmp/csv_orders").write(src)
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

  test("TextSource: line-per-doc and whole-file reads; doc ids survive repartition") {
    val dir = s"$tmp/rawtext"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/a.txt"), "doc one\ndoc two\ndoc three\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/b.txt"), "doc four\n")
    // line-delimited: one row per line across files
    val lines = TextSource(dir).read(spark)
    assert(lines.count() == 4)
    assert(lines.columns.toSeq == Seq("value"))
    // whole-file: one row per file, newlines preserved
    val whole = TextSource(dir, wholeFile = true).read(spark)
    assert(whole.count() == 2)
    assert(whole.collect().exists(_.getString(0).contains("doc one\ndoc two")))
    // ids are content+provenance hashes derived AT SCAN: identical across
    // re-runs and unaffected by downstream repartitioning
    val ids1 = TextSource.withDocIds(lines).orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val ids2 = TextSource.withDocIds(TextSource(dir).read(spark))
      .repartition(7).orderBy("doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(ids1.sameElements(ids2))
    assert(ids1.map(_._1).distinct.length == 4)
  }

  test("malformed records: PERMISSIVE degrades, DROPMALFORMED skips, FAILFAST aborts") {
    import org.apache.spark.sql.types._
    val p = s"$tmp/bad.jsonl"
    Files.write(Paths.get(p), java.util.Arrays.asList(
      """{"k": 1, "v": "ok"}""",
      """{"k": broken""",
      """{"k": 3, "v": "fine"}"""))
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType)))
    val permissive = JsonSource(p, schema = Some(schema)).read(spark)
    assert(permissive.count() == 3)
    assert(permissive.filter(col("k").isNull).count() == 1)
    val dropped = JsonSource(p, schema = Some(schema),
      mode = "DROPMALFORMED").read(spark)
    assert(dropped.count() == 2)
    intercept[Exception] {
      JsonSource(p, schema = Some(schema), mode = "FAILFAST")
        .read(spark).count()
    }
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

  test("ingest's quality counts take one aggregate query") {
    val aggregates = new java.util.concurrent.atomic.AtomicInteger
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.optimizedPlan.exists(_.isInstanceOf[Aggregate]))
          aggregates.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def ingest(csv: String, name: String): (Long, Long, Long) = {
      aggregates.set(0)
      spark.listenerManager.register(listener)
      try JobCount(spark.sparkContext)(
        TaxiPipeline.ingest(spark, csv, fresh(name)))._1
      finally spark.listenerManager.unregister(listener)
    }
    assert(ingest(res("yellow_sample.csv"), "agg_yellow") == ((10L, 3L, 0L)))
    assert(aggregates.get == 1, s"${aggregates.get} aggregate queries")
    assert(ingest(res("green_sample.csv"), "agg_green") == ((8L, 2L, 0L)))
    assert(aggregates.get == 1)
    val plain = Files.writeString(Paths.get(s"$tmp/no_passengers.csv"),
      "VendorID,fare_amount\n1,5.0\n2,7.5\n")
    assert(ingest(plain.toString, "agg_plain") == ((2L, 0L, 0L)))
    assert(aggregates.get == 1)
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
      assert(TaxiPipeline.zeroPassengerCount(db) == 0, csv)
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
    // the capped scan feeds the global limit through a one-partition
    // shuffle, so the scan and the write are a job each
    assert(jobs == 2, s"$jobs jobs: ${stages.mkString(", ")}")
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
