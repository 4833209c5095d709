package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftPlanBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, NullsFirst, NullsLast, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}

/** Custom whole-operator: top-k rows per group under a total order —
  * the full custom-operator path (logical node → strategy → physical exec)
  * from SURVEY.md §7.3(c).
  *
  * Why not `row_number().over(window) <= k`? The window operator sorts every
  * partition fully (O(n log n) per group, full materialization) before the
  * filter throws away all but k rows. This operator keeps a bounded k-row
  * heap per group in one streaming pass: O(n log k), memory O(groups × k) —
  * at 100 TB, the difference between a sort-spill of the whole fact table
  * and a scan.
  */
case class TopKPerGroup(groupCols: Seq[Expression], order: Seq[SortOrder],
    k: Int, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

case class TopKPerGroupExec(groupCols: Seq[Expression], order: Seq[SortOrder],
    k: Int, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output

  /** Hash-partition input by the group columns so each group is wholly in
    * one partition; no sort required of the child. */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(groupCols) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val schema = child.output
    val (gCols, ord, kk) = (groupCols, order, k)
    child.execute().mapPartitions { it =>
      val keyProj = UnsafeProjection.create(gCols, schema)
      val ordering = RowOrdering.create(ord, schema)
      val worstFirst = new java.util.Comparator[InternalRow] {
        override def compare(a: InternalRow, b: InternalRow): Int =
          ordering.compare(b, a)
      }
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
      it.foreach { row =>
        val key = keyProj(row)
        var pq = heaps.get(key)
        if (pq == null) {
          pq = new java.util.PriorityQueue[InternalRow](
            math.min(kk, 1024) + 1, worstFirst)
          heaps.put(key.copy(), pq)
        }
        if (pq.size < kk) pq.add(row.copy())
        else if (ordering.compare(row, pq.peek()) < 0) {
          pq.poll(); pq.add(row.copy())
        }
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      heaps.values.forEach { pq =>
        val rows = new Array[InternalRow](pq.size)
        var i = rows.length - 1
        while (i >= 0) { rows(i) = pq.poll(); i -= 1 } // heap pops worst-first
        out ++= rows
      }
      out.iterator
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}

/** Planner strategy mapping the logical node to its exec. Registered by
  * [[GraftExtensions]], the only wiring path: a session that is not built
  * through it cannot plan a [[TopKPerGroup]]. */
object GraftStrategies extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(g, o, k, child) =>
      TopKPerGroupExec(g, o, k, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Public API. */
object TopK {
  /** Top-`k` rows per group under `orderBy` (column name → ascending?).
    * Include a unique tie-break column for deterministic output. */
  def perGroup(df: DataFrame, groupCols: Seq[String],
      orderBy: Seq[(String, Boolean)], k: Int): DataFrame = {
    val spark = df.sparkSession
    val order = orderBy.map { case (name, asc) =>
      SortOrder(UnresolvedAttribute.quoted(name),
        if (asc) Ascending else Descending,
        if (asc) NullsFirst else NullsLast, Seq.empty)
    }
    GraftPlanBridge.ofRows(spark,
      TopKPerGroup(groupCols.map(UnresolvedAttribute.quoted),
        order, k, df.queryExecution.logical))
  }
}
