package graft.operators

import org.apache.spark.sql.{DataFrame, GraftErrorBridge}
import org.apache.spark.sql.catalyst.InternalRow

/** Global double sums for driver-side training loops (GD, EM): `df` is
  * planned ONCE and each [[run]] is ONE single-stage job, not a re-planned
  * `agg(...).head()` of two jobs (partial stage, 1-row shuffle). Partitions
  * fold rows in order into sums from 0.0; the driver adds the partials in
  * partition-index order (`RDD.aggregate` would use completion order) —
  * a global `sum`/`avg`'s float sequence, so a fold repeating a Catalyst
  * expression's IEEE operations ([[PartitionSums.div]], `StrictMath.exp`,
  * its association; null inputs skipped) returns its doubles bit for bit. */
final class PartitionSums(df: DataFrame) {
  private val rows = df.queryExecution.toRdd

  /** `fold(row, acc)` adds a row into its partition's `k` sums; returns
    * the sums and the row count (`count(1)`). */
  def run(k: Int)(fold: (InternalRow, Array[Double]) => Unit): (Array[Double], Long) = {
    val parts = rows.sparkContext.runJob(rows, (it: Iterator[InternalRow]) => {
      val acc = new Array[Double](k)
      var n = 0L
      it.foreach { r => fold(r, acc); n += 1 }
      (acc, n)
    })
    val sums = new Array[Double](k)
    for ((acc, _) <- parts; i <- 0 until k) sums(i) += acc(i)
    (sums, parts.map(_._2).sum)
  }
}

object PartitionSums {
  /** Catalyst's double `Divide` under the session's ANSI default: a zero
    * divisor raises its DIVIDE_BY_ZERO error. */
  def div(a: Double, b: Double): Double =
    if (b == 0.0) throw GraftErrorBridge.divideByZero() else a / b
}
