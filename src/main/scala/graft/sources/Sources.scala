package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.hadoop.fs.{FileUtil, Path => HPath}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Source/Sink surface re-expressing the reference pipeline's IO edges
  * (SURVEY.md §2.1 R1/R2/R6/R8/R9/R11-R15) on Spark's data source API.
  *
  * The reference talks to Postgres, GCS and BigQuery; this environment is
  * offline, so the object store and the warehouse are local-filesystem
  * stand-ins. The export encodes its rows once, as parquet, and
  * [[Publish]] copies those files to both: an object copy into the bucket,
  * then the warehouse's load job from the published parquet — the path the
  * GCS connector (`gs://`) and a BigQuery load take.
  */
trait Source { def read(spark: SparkSession): DataFrame }
trait Sink { def write(df: DataFrame): Unit }

/** R2: CSV scan — header, inferred schema, transparent gzip codec, optional
  * row cap (the reference's `nrows=100000`). Inferred schema mirrors
  * `pd.read_csv` (ingest_data.py:49); at scale prefer an explicit schema to
  * skip the inference pass. */
final case class CsvSource(path: String, limit: Option[Int] = None,
    schema: Option[org.apache.spark.sql.types.StructType] = None,
    mode: String = "PERMISSIVE")
    extends Source {
  override def read(spark: SparkSession): DataFrame = {
    // PERMISSIVE (default) nulls out unparsable fields; DROPMALFORMED skips
    // the row; FAILFAST aborts the scan — at 100 TB one bad row must not
    // kill a 6-hour job, so the default degrades instead of failing.
    val base = spark.read.option("header", "true").option("mode", mode)
    val withSchema = schema match {
      case Some(s) => base.schema(s)
      // pandas parity: pd.read_csv never guesses datetimes, so pin the
      // inference timestampFormat to a strict ISO profile the taxi data
      // doesn't match — datetime-looking columns stay strings and the
      // conditional cast (R7) stays meaningful, as in the reference.
      case None => base.option("inferSchema", "true")
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss[.SSS]XXX")
    }
    val df = withSchema.csv(path)
    limit.map(df.limit).getOrElse(df)
  }
}

/** CSV export (the interchange twin of [[CsvSource]]): header row, optional
  * gzip codec, explicit timestamp format so re-ingestion round-trips.
  * Gzip CSV parts are non-splittable on re-read — at 100 TB prefer parquet
  * for anything downstream Spark will scan again; CSV export exists for
  * the tools that demand it. */
final case class CsvSink(path: String, compression: String = "gzip",
    mode: SaveMode = SaveMode.Overwrite) extends Sink {
  override def write(df: DataFrame): Unit =
    df.write.mode(mode)
      .option("header", "true")
      .option("compression", compression)
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
      .csv(path)
}

/** R9: JDBC scan. `partitionColumn` enables parallel reads (the distributed
  * analogue of the reference's `chunksize=100000` iterator,
  * ingest_data.py:100): numPartitions concurrent range queries instead of a
  * single serial cursor. */
final case class JdbcSource(url: String, table: String,
    partitionColumn: Option[(String, Long, Long, Int)] = None)
    extends Source {
  override def read(spark: SparkSession): DataFrame = {
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
    mode: SaveMode = SaveMode.Append) extends Sink {
  override def write(df: DataFrame): Unit =
    df.write.format("jdbc")
      .option("url", url).option("dbtable", table)
      .mode(mode).save()
}

/** R11+R15: parquet sink with codec + Hive-style partition layout — the
  * declarative version of the reference's hand-built
  * `{dir}/{color}_taxi/{year}/{month}` paths (ingest_data.py:20-22).
  * Partition values live in the directory structure, so downstream reads
  * prune partitions for free. */
final case class ParquetSink(path: String, compression: String = "gzip",
    partitionBy: Seq[String] = Nil, mode: SaveMode = SaveMode.Overwrite)
    extends Sink {
  override def write(df: DataFrame): Unit = {
    val w = df.write.option("compression", compression).mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path)
  }
}

/** Clustered parquet writer: range-partition on a clustering-key column
  * (e.g. the Morton key from `RelationalOps.zorderLayout`) and sort within
  * each partition before writing, so every output file covers a TIGHT
  * contiguous key range and the parquet min/max footer stats actually
  * prune. `numFiles` sizes the layout (one range partition → one file).
  * This is the write half of the Z-order story: computing interleaved keys
  * is pointless unless the layout clusters on them. */
final case class ClusteredParquetSink(path: String, clusterCol: String,
    numFiles: Int = 8, compression: String = "snappy") extends Sink {
  override def write(df: DataFrame): Unit =
    df.repartitionByRange(numFiles, org.apache.spark.sql.functions.col(clusterCol))
      .sortWithinPartitions(clusterCol)
      .write.option("compression", compression)
      .mode(SaveMode.Overwrite).parquet(path)
}

/** Columnar interchange beyond parquet: ORC (built into spark-sql —
  * vectorized reader, predicate pushdown and column pruning work the same
  * way). Same codec + partition-layout options as [[ParquetSink]], so a
  * pipeline can switch formats without touching its plan. */
final case class OrcSource(path: String) extends Source {
  override def read(spark: SparkSession): DataFrame = spark.read.orc(path)
}
final case class OrcSink(path: String, compression: String = "zlib",
    partitionBy: Seq[String] = Nil, mode: SaveMode = SaveMode.Overwrite)
    extends Sink {
  override def write(df: DataFrame): Unit = {
    val w = df.write.option("compression", compression).mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .orc(path)
  }
}

/** Row interchange beyond CSV: JSON Lines (one object per line — the
  * splittable, scan-parallel layout; `multiline=true` only for whole-file
  * documents, which cannot be split). Schema optional like [[CsvSource]]:
  * inference costs an extra pass, so at scale pass one. Gzip is transparent
  * on read; on write the codec rides the option. */
final case class JsonSource(path: String, multiline: Boolean = false,
    schema: Option[org.apache.spark.sql.types.StructType] = None,
    mode: String = "PERMISSIVE")
    extends Source {
  override def read(spark: SparkSession): DataFrame = {
    val base = spark.read.option("multiLine", multiline.toString)
      .option("mode", mode)
    schema.map(base.schema).getOrElse(base).json(path)
  }
}
final case class JsonSink(path: String, compression: String = "gzip",
    partitionBy: Seq[String] = Nil, mode: SaveMode = SaveMode.Overwrite)
    extends Sink {
  override def write(df: DataFrame): Unit = {
    val w = df.write.option("compression", compression).mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .json(path)
  }
}

/** Raw text corpora: the lowest common denominator of LLM training data.
  * `wholeFile=false` (default) reads line-delimited text — one document per
  * line, splittable, scan-parallel, the layout web-scale corpus dumps use;
  * `wholeFile=true` reads one document PER FILE (`wholetext`), for corpora
  * shipped as one file per article — unsplittable, so it scales by file
  * count like [[BinaryFileSource]]. `lineSep` covers exotic delimiters
  * (e.g. NUL-separated dumps). Emits (value) like `spark.read.text`;
  * `withDocIds` derives a stable doc_id = xxhash64 of the text plus the
  * source file, so ids survive re-partitioning and re-runs. */
final case class TextSource(path: String, wholeFile: Boolean = false,
    lineSep: Option[String] = None) extends Source {
  override def read(spark: SparkSession): DataFrame = {
    val base = spark.read.option("wholetext", wholeFile.toString)
    lineSep.fold(base)(s => base.option("lineSep", s)).text(path)
  }
}
object TextSource {
  /** Stable ids for a raw text scan: content+provenance hash, not
    * monotonically_increasing_id (which is partition-layout-dependent and
    * changes run to run — unusable as a persistent doc key). MUST be
    * applied directly on the scan output: `input_file_name()` is only
    * defined inside the scan stage (it returns "" after any exchange), so
    * derive ids first, repartition after — the ids themselves are then
    * stable under any downstream layout or re-run. */
  def withDocIds(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    df.select(
      xxhash64(col("value"), input_file_name()).as("doc_id"),
      col("value").as("text"))
  }
}

/** Raw binary ingestion for multimodal corpora: Spark's built-in
  * `binaryFile` format reads a directory tree of opaque payloads (images,
  * audio, video) as (path, modificationTime, length, content: binary) —
  * the input edge of the [[graft.operators.MultimodalOps]] decode/feature
  * stage. `pathGlobFilter` prunes by extension at the LISTING step (files
  * never open); `recursiveFileLookup` walks nested shard dirs. Each file is
  * one row read by one task — at 100 TB this scales by file count, so
  * upstream layout should keep payloads in many moderate files, not one
  * giant tar. */
final case class BinaryFileSource(path: String,
    globFilter: Option[String] = None, recursive: Boolean = true)
    extends Source {
  override def read(spark: SparkSession): DataFrame = {
    val base = spark.read.format("binaryFile")
      .option("recursiveFileLookup", recursive.toString)
    globFilter.fold(base)(g => base.option("pathGlobFilter", g)).load(path)
  }
}

/** Parquet scan with optional schema evolution: `mergeSchema` unions the
  * schemas of every footer (columns added over a dataset's lifetime appear
  * as nulls in older files) instead of trusting the first file. Off by
  * default, as in Spark: merging reads every footer — at 100 TB that is a
  * full listing + footer fetch per file, so evolved datasets should carry
  * an explicit catalog schema and leave this for ad-hoc exploration. */
final case class ParquetSource(path: String, mergeSchema: Boolean = false)
    extends Source {
  /** Inferred once per input and setting ([[graft.Tables.readParquet]]):
    * a later read of unchanged files runs no Spark job. */
  override def read(spark: SparkSession): DataFrame =
    graft.Tables.readParquet(spark, path,
      Map("mergeSchema" -> mergeSchema.toString))
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

/** R14: object-store download. Local-FS stand-in: Spark reads the store
  * path in place (the reference's explicit re-download, self-described as
  * redundant at ingest_data.py:125, becomes a direct read). The object's
  * `schema` is known to its writer, so the read runs no footer-inference
  * job. */
final case class ObjectStoreSource(bucketPath: String,
    schema: org.apache.spark.sql.types.StructType) extends Source {
  override def read(spark: SparkSession): DataFrame =
    spark.read.schema(schema).parquet(bucketPath)
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
