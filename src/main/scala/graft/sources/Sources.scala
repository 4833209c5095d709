package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.hadoop.fs.{FileUtil, Path => HPath}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/* The reference pipeline's IO edges (SURVEY.md §2.1: R1/R2/R6/R8/R9,
 * R11-R13 and R15) on Spark's data source API, plus the streaming ingest's
 * small-files compactor. R14, the object-store download, is a plain
 * schema-pinned read in `graft.pipeline.TaxiPipeline.exportToCloud`.
 *
 * The reference talks to Postgres, GCS and BigQuery; this environment is
 * offline, so the object store and the warehouse are local-filesystem
 * stand-ins. The export encodes its rows once, as parquet, and `Publish`
 * copies those files to both: an object copy into the bucket, then the
 * warehouse's load job from the published parquet — the path the GCS
 * connector (`gs://`) and a BigQuery load take.
 */

/** R2: CSV scan — header, inferred schema, transparent gzip codec.
  * Inferred schema mirrors `pd.read_csv` (ingest_data.py:49); at scale
  * prefer an explicit schema to skip the inference pass. */
final case class CsvSource(path: String,
    schema: Option[org.apache.spark.sql.types.StructType] = None) {
  def read(spark: SparkSession): DataFrame = {
    // PERMISSIVE nulls out unparsable fields — at 100 TB one bad row must
    // not kill a 6-hour job, so the scan degrades instead of failing.
    val base = spark.read.option("header", "true").option("mode", "PERMISSIVE")
    val withSchema = schema match {
      case Some(s) => base.schema(s)
      // pandas parity: pd.read_csv never guesses datetimes, so pin the
      // inference timestampFormat to a strict ISO profile the taxi data
      // doesn't match — datetime-looking columns stay strings and the
      // conditional cast (R7) stays meaningful, as in the reference.
      case None => base.option("inferSchema", "true")
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss[.SSS]XXX")
    }
    withSchema.csv(path)
  }
}

/** R9: JDBC scan. `partitionColumn` enables parallel reads (the distributed
  * analogue of the reference's `chunksize=100000` iterator,
  * ingest_data.py:100): numPartitions concurrent range queries instead of a
  * single serial cursor. */
final case class JdbcSource(url: String, table: String,
    partitionColumn: Option[(String, Long, Long, Int)] = None) {
  def read(spark: SparkSession): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
    partitionColumn match {
      case Some((col, lo, hi, n)) => base
        .option("partitionColumn", col)
        .option("lowerBound", lo).option("upperBound", hi)
        .option("numPartitions", n).load()
      case None => base.load()
    }
  }
}

/** R6+R8: JDBC sink. `Append` per batch = the reference's chunked
  * `to_sql(if_exists="append")` (ingest_data.py:78); `Overwrite` with
  * truncate=false = the schema-replacing create (ingest_data.py:52).
  *
  * Dialect note: the reference targets Postgres (docker-compose.yaml:2-11);
  * this zero-egress sandbox validates R8/R9 against embedded Derby, so two
  * deltas are untested here and matter on a real Postgres 16: (1) type
  * mapping — Spark's JdbcDialects writes StringType as TEXT on Postgres vs
  * CLOB on Derby, TimestampType as TIMESTAMP in both, and reads Postgres
  * NUMERIC into DecimalType with the declared precision; (2) Overwrite can
  * add `.option("truncate", true)` on Postgres to TRUNCATE-and-reload
  * instead of DROP/CREATE, preserving grants and indexes — Derby has no
  * TRUNCATE support in Spark's dialect, so the tests exercise the
  * DROP/CREATE path only. Both paths go through the same public
  * spark.write.format("jdbc") surface; no code change is needed to switch,
  * only the url/driver. */
final case class JdbcSink(url: String, table: String,
    mode: SaveMode = SaveMode.Append) {
  def write(df: DataFrame): Unit =
    df.write.format("jdbc")
      .option("url", url).option("dbtable", table)
      .mode(mode).save()
}

/** R11+R15: gzip parquet sink (the reference's `compression="gzip"`,
  * ingest_data.py:103-106) that replaces `path`, with an optional
  * Hive-style partition layout — the declarative version of the
  * reference's hand-built `{dir}/{color}_taxi/{year}/{month}` paths
  * (ingest_data.py:20-22). Partition values live in the directory
  * structure, so downstream reads prune partitions for free. */
final case class ParquetSink(path: String, partitionBy: Seq[String] = Nil) {
  def write(df: DataFrame): Unit = {
    val w = df.write.option("compression", "gzip").mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path)
  }
}

/** Small-files compaction — the operational fix for the classic 100 TB
  * failure mode where streaming appends / per-partition writes leave
  * thousands of KB-sized parquet files and every downstream scan pays a
  * task (plus a namenode/listing round-trip) per file. Rewrites a dataset
  * to ⌈totalBytes / targetBytes⌉ files of ~`targetBytes` each.
  *
  * Deliberately writes to a NEW directory instead of swapping in place:
  * in-place compaction on an object store is a non-atomic
  * delete-then-rename race against concurrent readers; production systems
  * either version directories (this shape — cut over by path) or need a
  * table format with a transaction log. `coalesce` (not `repartition`)
  * merges without a shuffle — input row order within merged groups is
  * preserved and no data crosses the network. */
object Compactor {
  /** A known `schema` reads the input without a schema-inference job. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      targetBytes: Long = 128L * 1024 * 1024,
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      : (Int, Int) = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(inPath)
    val fs = p.getFileSystem(hconf)
    val files = fs.listStatus(p)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val totalBytes = files.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    schema.fold(spark.read)(spark.read.schema).parquet(inPath).coalesce(nOut)
      .write.mode(SaveMode.Overwrite).parquet(outPath)
    val outFiles = fs.listStatus(new org.apache.hadoop.fs.Path(outPath))
      .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    (files.length, outFiles)
  }
}

/** R12+R13: publish a parquet dataset that is already written, by copying
  * its files with the Hadoop `FileSystem` API: one encode feeds every
  * destination. That is the cloud path these local stand-ins represent: an
  * object copy into the bucket (a `gs://` path through the GCS connector),
  * then a warehouse load job from the published parquet (a BigQuery load
  * reads the files; it does not re-encode the rows). Each copy lands under
  * a `_`-prefixed name and is then renamed into place; readers skip `_` and
  * `.` names, so none sees a half-copied file. */
object Publish {
  private def copyIn(spark: SparkSession, src: HPath, dest: HPath): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val destFs = dest.getFileSystem(conf)
    val staged = new HPath(dest.getParent, s"_${dest.getName}.copying")
    destFs.delete(staged, true)
    FileUtil.copy(src.getFileSystem(conf), src, destFs, staged, false, true, conf)
    destFs.delete(dest, true)
    if (!destFs.rename(staged, dest))
      throw new java.io.IOException(s"cannot publish $src as $dest")
  }

  /** R12: replace the dataset directory `dest` with a copy of `src`, as
    * `SaveMode.Overwrite` does. */
  def replace(spark: SparkSession, src: String, dest: String): Unit =
    copyIn(spark, new HPath(src), new HPath(dest))

  /** R13: add the data files of the dataset `src` to the table directory
    * `dest`, as `SaveMode.Append` does. Each part file's name carries its
    * write job's UUID, so the files of two appends never collide. */
  def append(spark: SparkSession, src: String, dest: String): Unit = {
    val dir = new HPath(src)
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(dir)
      .map(_.getPath).filter(_.getName.startsWith("part-"))
      .foreach(f => copyIn(spark, f, new HPath(dest, f.getName)))
  }
}

/** R1: driver-side HTTP fetch to a local file (Spark has no HTTP source;
  * the reference shells out to curl, ingest_data.py:24). Supports file://
  * URIs for offline use/tests. Creates the partition directory first,
  * mirroring ingest_data.py:20-22. */
object HttpFetch {
  def fetch(url: String, dest: Path): Path = {
    Files.createDirectories(dest.getParent)
    val uri = URI.create(url)
    if (uri.getScheme == "file") {
      Files.copy(Paths.get(uri), dest, StandardCopyOption.REPLACE_EXISTING)
    } else {
      // NORMAL follows redirects except https→http downgrades
      val client = HttpClient.newBuilder()
        .followRedirects(HttpClient.Redirect.NORMAL).build()
      val req = HttpRequest.newBuilder(uri).GET().build()
      // TRUNCATE_EXISTING: without it a refetch of a smaller body leaves
      // stale trailing bytes from the previous download
      val resp = client.send(req, HttpResponse.BodyHandlers.ofFile(dest,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE,
        java.nio.file.StandardOpenOption.TRUNCATE_EXISTING))
      // a 404/500 body must not masquerade as the downloaded CSV
      if (resp.statusCode() / 100 != 2) {
        Files.deleteIfExists(dest)
        throw new java.io.IOException(
          s"fetch of $url failed: HTTP ${resp.statusCode()}")
      }
    }
    dest
  }
}
