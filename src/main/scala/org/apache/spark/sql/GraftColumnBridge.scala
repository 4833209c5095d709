package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}

/** Bridge between graft's custom Catalyst expressions and the public Column
  * API. Spark 4 routes Column through ColumnNode (Connect refactor), so the
  * Expression↔Column converters live in `org.apache.spark.sql.classic` with
  * `private[sql]` access — this object re-exports them for graft.
  */
object GraftColumnBridge {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}

/** Catalyst's runtime errors, for driver-side mirrors of its expressions. */
object GraftErrorBridge {
  def divideByZero(): ArithmeticException = errors.QueryExecutionErrors.divideByZeroError(null)
}

/** The checkpoint behind `graft.operators.Materialize`: a frame over a
  * hand-built `LogicalRDD` needs `classic.Dataset.ofRows` and the
  * `LogicalRDD` statistics argument, both `private[sql]`. */
object GraftCheckpointBridge {

  /** Stores `df`'s partitions as local checkpoint blocks, in one job that
    * also counts their rows and bytes, and returns a frame over the
    * blocks: a `LogicalRDD` with those exact statistics, fresh attributes,
    * no constraints and unknown partitioning. Physical operators emit
    * `UnsafeRow`s (the shuffle serializer relies on it too). */
  def checkpoint(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    SQLExecution.withNewExecutionId(ds.queryExecution, Some("localCheckpoint")) {
      val rdd = ds.queryExecution.executedPlan.execute().map(_.copy())
        .localCheckpoint()
      // runJob ends in rdd.doCheckpoint, which finds every block stored
      val sizes = ds.sparkSession.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => {
        var rows, bytes = 0L
        it.foreach { r => rows += 1; bytes += r.asInstanceOf[UnsafeRow].getSizeInBytes }
        (rows, bytes)
      })
      val stats = Statistics(BigInt(sizes.map(_._2).sum), Some(BigInt(sizes.map(_._1).sum)))
      classic.Dataset.ofRows(ds.sparkSession, LogicalRDD(
        DataTypeUtils.toAttributes(ds.schema), rdd)(ds.sparkSession, Some(stats), None))
    }
  }
}
