package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.pipeline.TaxiPipeline

/** Streaming version of the reference's chunked CSV ingest
  * (ingest_data.py:54-85). The chunk loop exists to bound memory, and
  * partitioned execution already does that: each trigger admits every
  * chunk file that has arrived as one micro-batch, which Spark packs into
  * tasks of at most `spark.sql.files.maxPartitionBytes` each, so per-task
  * memory stays bounded however large the backlog. The batch flows through
  * the same transform chain (quality filter + conditional cast) into an
  * append parquet sink with exactly-once checkpointing, which the pandas
  * loop never had. The sink keeps no state beyond the file log, so batch
  * size sets only checkpoint granularity. Files that land later are picked
  * up by the next trigger.
  */
object StreamingIngest {

  def start(spark: SparkSession, inputDir: String, schema: StructType,
      outputDir: String, checkpointDir: String): StreamingQuery = {
    val raw = spark.readStream
      .schema(schema)
      .option("header", "true")
      .csv(inputDir)
    val cleaned = TaxiPipeline.castTimestampsIfPresent(
      TaxiPipeline.dropZeroPassengers(raw))
    cleaned.writeStream
      .format("parquet")
      .option("path", outputDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .start()
  }

  /** Streaming CDC upsert sink: each micro-batch MERGEs into a parquet
    * target by key via `foreachBatch` — the production shape for keeping a
    * mutable serving table current from an unbounded change feed (the
    * streaming twin of graft.operators.RelationalOps.upsert, which is the
    * oracle-checked batch form).
    *
    * foreachBatch is the right tool because the merge needs the TARGET as
    * a DataFrame (a plain streaming sink only sees the batch): read target,
    * anti-join out replaced keys, union the batch, rewrite. The rewrite is
    * atomic-enough for a single-writer pipeline (write tmp, swap); a real
    * lakehouse target (Delta/Iceberg) replaces the rewrite with a native
    * MERGE INTO while this orchestration stays identical.
    *
    * Scale note: rewriting the whole target per batch is the parquet-only
    * cost — at 100 TB the target is partitioned and only partitions
    * containing changed keys rewrite (partition pruning on the anti-join
    * keys); table formats with row-level deletes drop even that.
    *
    * One file per trigger: the merge orders key replacements by batch, so
    * a file that lands later replaces an earlier one's keys only if it is
    * merged in a later batch. */
  def startUpsert(spark: SparkSession, inputDir: String, schema: StructType,
      key: String, targetDir: String, checkpointDir: String): StreamingQuery = {
    import org.apache.spark.sql.{DataFrame, SaveMode}
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inputDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val merged =
          if (!new java.io.File(targetDir).exists) batch
          else graft.operators.RelationalOps.upsert(
            spark.read.schema(schema).parquet(targetDir), batch, key)
        // materialize before overwriting the directory being read, then
        // copy back compacted to 128 MB files: without that every batch
        // adds a file to the target, and every later batch reads one more.
        // Both reads pass the schema they already know, so neither runs a
        // schema-inference job
        val tmp = targetDir + ".tmp"
        merged.write.mode(SaveMode.Overwrite).parquet(tmp)
        graft.sources.Compactor.compact(spark, tmp, targetDir,
          schema = Some(merged.schema))
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .start()
  }
}
