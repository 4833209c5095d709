package graft.pipeline

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
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

  /** R4's keep predicate: a zero passenger count drops the row, a null one
    * keeps it (pandas semantics). None when there is no passenger_count
    * column, so nothing is dropped. */
  private def keepsPassengers(df: DataFrame): Option[Column] =
    if (df.columns.contains("passenger_count"))
      Some(col("passenger_count") =!= 0 || col("passenger_count").isNull)
    else None

  /** R4: drop zero-passenger rows (ingest_data.py:29-38). */
  def dropZeroPassengers(df: DataFrame): DataFrame =
    keepsPassengers(df).fold(df)(df.filter)

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

  /** R2-R8: ingest — scan CSV, filter, cast, append to the relational
    * store, counting the rows on the way. Returns (rowsBefore, zeroBefore,
    * zeroAfter). R5's data-quality counts (rows with passenger_count == 0,
    * ingest_data.py:32,36, before and after R4's filter) are an
    * `Observation` on the frame the append writes: the append's own scan
    * computes them, so the file is read once for inference and once for
    * the append, and no separate aggregate query runs. zeroAfter counts the
    * zeros among the rows R4's own keep predicate passes, so it is 0 by
    * construction: it restates the reference's after-check, it does not
    * test the filter (the spec counts the zeros in the stored table for
    * that). */
  def ingest(spark: SparkSession, csvPath: String, c: Config): (Long, Long, Long) = {
    val raw = CsvSource(csvPath).read(spark)
    // the zero counts are conditional on passenger_count existing (R7's
    // cast-if-present sibling quirk); `observe` takes only aggregates
    // and literals
    val (zeroBefore, zeroAfter) = keepsPassengers(raw).map { keep =>
      val zero = col("passenger_count").isin(0)
      (count_if(zero), count_if(keep && zero))
    }.getOrElse((lit(0L), lit(0L)))
    val quality = Observation()
    val observed = raw.observe(quality, count(lit(1)).as("rows"),
      zeroBefore.as("zero_before"), zeroAfter.as("zero_after"))
    def cleaned(df: DataFrame) = castTimestampsIfPresent(dropZeroPassengers(df))
    // R6: schema-only write creates/replaces the table without data motion:
    // Catalyst plans `limit(0)` as an empty relation, so it reads no file.
    // It is built from the unobserved frame, since an Observation reports
    // only the first action it sees
    JdbcSink(c.jdbcUrl, tableName(c), SaveMode.Overwrite).write(cleaned(raw).limit(0))
    JdbcSink(c.jdbcUrl, tableName(c), SaveMode.Append).write(cleaned(observed))
    val stats = quality.get
    def metric(name: String) = stats(name).asInstanceOf[Long]
    (metric("rows"), metric("zero_before"), metric("zero_after"))
  }

  /** R9-R14: export — read the stored table back once, capped at
    * `exportRowCap` rows (the reference's first-chunk-only export,
    * ingest_data.py:102), and write it once as gzip parquet under
    * `outputDir`. The cap runs in the database (`FETCH FIRST n ROWS ONLY`,
    * standard SQL that Derby and Postgres both take), so the scan feeds the
    * write directly: a `limit` over the scan would add a one-partition
    * shuffle and a second job. The "upload" to the object store (R12) and
    * the append to the warehouse (R13) copy that parquet's files
    * ([[Publish]]): one database read and one encode feed every
    * destination, as in the reference's `store_to_cloud`
    * (ingest_data.py:88-126), so the three artifacts hold the same capped
    * rows by construction. R14: the stored object is read back in place
    * with the schema just written (the reference's redundant re-download,
    * ingest_data.py:125, becomes a direct read that runs no
    * schema-inference job). Returns the re-read DataFrame. */
  def exportToCloud(spark: SparkSession, c: Config): DataFrame = {
    val fromDb = JdbcSource(c.jdbcUrl, s"(SELECT * FROM ${tableName(c)} " +
      s"FETCH FIRST ${c.exportRowCap} ROWS ONLY) capped").read(spark)
    val localParquet = s"${c.outputDir}/${tableName(c)}.parquet"
    ParquetSink(localParquet).write(fromDb)
    val bucketPath = s"${c.bucketDir}/${tableName(c)}.parquet"
    Publish.replace(spark, localParquet, bucketPath)
    Publish.append(spark, localParquet,
      s"${c.warehouseDir}/${datasetName(c)}/taxi_data")
    spark.read.schema(fromDb.schema).parquet(bucketPath)
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
