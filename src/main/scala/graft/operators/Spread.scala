package graft.operators

import org.apache.spark.sql.DataFrame

/** Scale-adaptive fan-out of a narrow-partitioned frame BEFORE expensive
  * per-row work (tokenization, row-multiplying explodes, hash probes).
  *
  * Small parquet inputs read as 1–3 scan splits (128 MB split size over
  * KB–MB files), so everything whole-stage-fused above the first exchange
  * runs on ≤3 tasks however many cores the session has — per-row-heavy
  * pipelines then cannot use the machine (guide §2.5 "input skew: one
  * huge unsplittable file… repartition immediately after the read").
  * This is an IDENTITY when the input would already fill the session's
  * default parallelism (a 100 TB scan has thousands of splits — no extra
  * exchange is ever added at scale), so it is not a local-core-count
  * constant: the dial is the session's own parallelism at any scale.
  * The "would the scan fill the cluster" probe is plan-only: the
  * optimizer's size estimate (file bytes for a parquet scan) against
  * maxPartitionBytes × parallelism — not `df.rdd.getNumPartitions`, which
  * compiles a physical plan on every call. Unknown-size plans (a
  * [[Materialize]]d frame) estimate huge and are left alone.
  *
  * Round-robin repartition is deterministic under Spark's
  * sort-before-repartition default (retried tasks reproduce the same
  * row-to-partition assignment). Callers must still be partition-order
  * free in their float aggregates — every caller here already is (the
  * declared queries' aggregation results are exact-integer or
  * stableRound4-barriered, the same invariant any shuffle implies).
  */
object Spread {
  def apply(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val maxPart = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    if (bytes < BigInt(maxPart) * target) df.repartition(target) else df
  }
}
