package graft.pipeline

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources._

/** The reference pipeline (shyambh/e2e-data-pipeline `ingest_data.py`),
  * re-expressed Spark-first. One lazy DataFrame DAG replaces the Prefect
  * flow/task graph (R17): each Spark action is a job boundary, and the
  * chunked 100k-row loop (ingest_data.py:54-85) disappears into partitioned
  * execution — Spark streams each input split through filter→cast→write
  * without materializing the whole file, which is the same bounded-memory
  * property the chunk loop bought, minus the driver-side loop.
  */
object TaxiPipeline {

  /** Pipeline parameters (R18 — argparse/deployment params,
    * ingest_data.py:145-157). */
  final case class Config(
      outputDir: String,
      taxiColor: String,
      year: Int,
      month: Int,
      jdbcUrl: String,
      bucketDir: String,
      warehouseDir: String,
      exportRowCap: Int = 100000)

  /** R16: derived names (ingest_data.py:159,169). */
  def tableName(c: Config): String = s"${c.taxiColor}_${c.year}_${c.month}"
  def datasetName(c: Config): String =
    s"${c.taxiColor}_taxi_tripdata_${c.year}_${c.month}"

  /** R1+R15: fetch the (possibly gzipped) CSV into the partition directory
    * as `trip_data.csv`, or `trip_data.csv.gz` for a `.gz` URL — not the
    * reference's `trip_data.gz.csv`: Spark picks the codec by extension. */
  def downloadCsv(url: String, c: Config): Path =
    HttpFetch.fetch(url, Paths.get(s"${c.outputDir}/${c.taxiColor}_taxi/" +
      s"${c.year}/${c.month}/trip_data.csv${if (url.endsWith(".gz")) ".gz" else ""}"))

  /** R5: data-quality metric — rows with passenger_count == 0
    * (ingest_data.py:32,36). One scalar crosses the shuffle. */
  def zeroPassengerCount(df: DataFrame): Long =
    if (df.columns.contains("passenger_count"))
      df.filter(col("passenger_count").isin(0)).count()
    else 0L

  /** R4: drop zero-passenger rows (ingest_data.py:29-38). */
  def dropZeroPassengers(df: DataFrame): DataFrame =
    if (df.columns.contains("passenger_count"))
      df.filter(col("passenger_count") =!= 0 || col("passenger_count").isNull)
    else df

  /** R7: cast-if-present timestamp conversion, preserving the reference's
    * green/yellow quirk (ingest_data.py:67-76): yellow files carry `tpep_*`
    * columns and get cast; green files carry `lpep_*` and pass through
    * untouched (the deployment default!). */
  def castTimestampsIfPresent(df: DataFrame,
      cols: Seq[String] = Seq("tpep_pickup_datetime", "tpep_dropoff_datetime"))
      : DataFrame =
    if (cols.forall(df.columns.contains))
      cols.foldLeft(df)((d, c) => d.withColumn(c, to_timestamp(col(c))))
    else df

  /** R2-R8: ingest — scan CSV, quality-count, filter, cast, append to the
    * relational store. Returns (rowsBefore, zeroBefore, zeroAfter). */
  def ingest(spark: SparkSession, csvPath: String, c: Config): (Long, Long, Long) = {
    // cache the scan: schema inference + the quality counts + two writes
    // would otherwise re-read the file ~6×. A single month file fits; a
    // at-scale ingest runs per-partition where each file is read once anyway.
    val raw = CsvSource(csvPath).read(spark).cache()
    // one aggregate pass for (total, zero-count) instead of two scans;
    // the zero-count column is conditional on passenger_count existing (R7's
    // cast-if-present sibling quirk)
    val zeroCol =
      if (raw.columns.contains("passenger_count"))
        sum(when(col("passenger_count").isin(0), 1L).otherwise(0L))
      else lit(0L)
    val stats = raw.agg(count(lit(1)).as("n"), zeroCol.as("zeros"))
      .collect().head
    val (total, zeroBefore) =
      (stats.getLong(0), Option(stats.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L))
    val cleaned = castTimestampsIfPresent(dropZeroPassengers(raw))
    val zeroAfter = zeroPassengerCount(cleaned)
    // R6: schema-only write creates/replaces the table without data motion
    JdbcSink(c.jdbcUrl, tableName(c), SaveMode.Overwrite).write(cleaned.limit(0))
    JdbcSink(c.jdbcUrl, tableName(c), SaveMode.Append).write(cleaned)
    raw.unpersist()
    (total, zeroBefore, zeroAfter)
  }

  /** R9-R14: export — read back, cap rows (the reference's
    * first-chunk-only export, ingest_data.py:102), write gzip parquet,
    * "upload" to the object store, append to the warehouse, and read the
    * stored object back (the reference's redundant re-download becomes a
    * direct read). Returns the re-read DataFrame. */
  def exportToCloud(spark: SparkSession, c: Config): DataFrame = {
    val fromDb = JdbcSource(c.jdbcUrl, tableName(c)).read(spark)
      .limit(c.exportRowCap)
    val localParquet = s"${c.outputDir}/${tableName(c)}.parquet"
    ParquetSink(localParquet).write(fromDb)
    val bucketPath = s"${c.bucketDir}/${tableName(c)}.parquet"
    ObjectStoreSink(bucketPath).write(fromDb)
    WarehouseSink(c.warehouseDir, datasetName(c), "taxi_data").write(fromDb)
    ObjectStoreSource(bucketPath).read(spark)
  }

  /** R17: the whole flow as plain function composition. */
  def run(spark: SparkSession, url: String, c: Config): DataFrame = {
    val csv = downloadCsv(url, c)
    val (n, zb, za) = ingest(spark, csv.toString, c)
    spark.sparkContext.setJobDescription(
      s"taxi pipeline ${tableName(c)}: rows=$n zero_before=$zb zero_after=$za")
    exportToCloud(spark, c)
  }
}
