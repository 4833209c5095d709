package graft.operators

import org.apache.spark.sql.DataFrame

/** Eager materialization with a clean-slate plan, for DataFrames that are
  * re-read by several downstream branches or loop iterations (k-means
  * passes, connected-components rounds, multi-way self-joins over an
  * exploded set). `localCheckpoint` alone truncates lineage but preserves
  * plan constraints that can reference pruned attributes — re-unioning or
  * self-joining such a plan trips Spark 4's union constraint rewrite
  * ("key not found: attr#N") — so the checkpoint is rewrapped via
  * `createDataFrame(rdd, schema)`.
  *
  * Scale note: the blocks live in executor storage (disk-backed), same as
  * MLlib's `.cache()` of an iterative training set — sized by the operator
  * to hold signatures/exploded keys, not raw corpus bytes. Superseded
  * checkpoints (e.g. each CC round's previous labels) are reclaimed by
  * Spark's ContextCleaner once the wrapping DataFrame becomes unreachable;
  * long-lived references pin their blocks.
  *
  * Join planning: the wrapped frame is a `LogicalRDD` with NO size
  * statistics, and it keeps its source's partition count — often the one
  * partition AQE coalesced a small shuffle to. Catalyst therefore never
  * auto-broadcasts a join against it: however few rows it holds, the join
  * plans as a shuffle join, which AQE may then run as a single task.
  * Callers joining a small materialized frame must `broadcast` it
  * explicitly, and `repartition` it before the checkpoint if per-row-heavy
  * work streams over it (see `EventOps.theilSen`).
  */
object Materialize {
  def apply(df: DataFrame): DataFrame = {
    val mat = df.localCheckpoint(eager = true)
    df.sparkSession.createDataFrame(mat.rdd, mat.schema)
  }
}
