package graft.operators

import org.apache.spark.sql.{DataFrame, GraftCheckpointBridge}
import org.apache.spark.sql.execution.LogicalRDD

/** Eager materialization with a clean-slate plan, for DataFrames that are
  * re-read by several downstream branches or loop iterations (k-means
  * passes, connected-components rounds, multi-way self-joins over an
  * exploded set). `localCheckpoint` alone truncates lineage but keeps the
  * source plan's constraints, which Spark 4's union constraint rewrite can
  * trip on ("key not found: attr#N"); so the frame is a `LogicalRDD` over
  * the checkpoint blocks with fresh attributes and no constraints.
  *
  * The frame carries exact statistics: the one job that fills the
  * checkpoint also counts its rows and bytes. Catalyst therefore
  * broadcasts a checkpoint under `spark.sql.autoBroadcastJoinThreshold`
  * by itself, and [[Materialize.rows]] reads the row count without a job.
  * The frame keeps its source's partition count, often the one partition
  * AQE coalesced a small shuffle to: `repartition` before the checkpoint if
  * per-row-heavy work streams over it (see `EventOps.theilSen`).
  *
  * Scale note: the blocks live in executor storage (disk-backed), sized by
  * the operator to hold signatures/exploded keys, not raw corpus bytes.
  * Spark's ContextCleaner reclaims a superseded checkpoint (each CC round's
  * previous labels) once its frame is unreachable; a live frame pins them.
  */
object Materialize {
  def apply(df: DataFrame): DataFrame = GraftCheckpointBridge.checkpoint(df)

  /** The row count of a frame [[apply]] returned, from its statistics. */
  def rows(df: DataFrame): Long = df.queryExecution.logical match {
    case r: LogicalRDD if r.stats.rowCount.isDefined => r.stats.rowCount.get.toLong
    case p => throw new IllegalArgumentException(
      s"Materialize.rows: not a checkpoint frame:\n$p")
  }
}
