package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

import scala.collection.mutable

/** Top-k rows per group as a first-class operator (SURVEY.md §5).
  *
  * Spark expresses per-group top-k as `row_number().over(Window...)` +
  * filter, which shuffles EVERY row of every group and fully sorts each
  * partition before discarding all but k rows — at 100 TB the shuffle is the
  * bottleneck. This operator runs a bounded per-group heap in each input
  * partition first (a map-side "partial top-k", like partial aggregation),
  * so at most `k × groups` rows per partition reach the exchange, then
  * repeats the bounded heap per group after clustering. Same result, a
  * fraction of the shuffle.
  *
  * Wiring: `row_number() <= k` with the rank dropped → logical node (by
  * [[TopKRewriteRule]]) → strategy (both injected by GraftExtensions) →
  * two-phase physical plan, the partial phase declaring no required
  * distribution and the final phase requiring
  * `ClusteredDistribution(groupBy)` so the planner inserts the exchange
  * between them.
  */
case class TopKPerGroup(groupBy: Seq[Expression], order: Seq[SortOrder], k: Int,
                        child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

object TopKPartitionFn {
  /** Bounded per-group heaps over one partition: keeps the k smallest rows
    * per group under `order` (max-heap of size k; the head is the row to
    * evict). Pure function of captured expression lists — safe to ship in a
    * task closure; projections/orderings are (code)generated on executors.
    */
  def topKWithinPartition(groupBy: Seq[Expression], order: Seq[SortOrder], k: Int,
                          childOutput: Seq[Attribute])(
                          it: Iterator[InternalRow]): Iterator[InternalRow] = {
    // NORMALIZED float group keys: raw UnsafeRow bytes would put -0.0 and
    // 0.0 (and distinct NaN bit patterns) in separate groups, diverging
    // from the window-function semantics this operator replaces
    val normalizedKeys = groupBy.map(
      org.apache.spark.sql.graft.DatasetBridge.normalizeFloats)
    val groupProj = UnsafeProjection.create(normalizedKeys, childOutput)
    val rowOrd = GenerateOrdering.generate(order, childOutput)
    val heaps = mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
    it.foreach { row =>
      val key = groupProj(row)
      val heap = heaps.getOrElseUpdate(key.copy(),
        mutable.PriorityQueue.empty[InternalRow](rowOrd))
      if (heap.size < k) {
        heap.enqueue(row.copy())
      } else if (rowOrd.compare(row, heap.head) < 0) {
        heap.dequeue()
        heap.enqueue(row.copy())
      }
    }
    heaps.valuesIterator.flatMap(_.iterator)
  }
}

/** Map-side phase: bounded heaps per input partition, no distribution
  * requirement — runs before any exchange.
  */
case class TopKPartialExec(groupBy: Seq[Expression], order: Seq[SortOrder], k: Int,
                           child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override protected def doExecute(): RDD[InternalRow] = {
    val (g, o, kk, out) = (groupBy, order, k, child.output)
    child.execute().mapPartitions(TopKPartitionFn.topKWithinPartition(g, o, kk, out),
      preservesPartitioning = true)
  }
  override protected def withNewChildInternal(newChild: SparkPlan): TopKPartialExec =
    copy(child = newChild)
}

/** Reduce-side phase: requires clustering on the group keys (the planner
  * inserts the shuffle), then runs the same bounded heap per group for the
  * exact final answer.
  */
case class TopKFinalExec(groupBy: Seq[Expression], order: Seq[SortOrder], k: Int,
                         child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  // empty groupBy = global top-k: the partial phase has already shrunk each
  // partition to k rows, so the single-partition final pass is cheap
  override def requiredChildDistribution: Seq[Distribution] =
    if (groupBy.isEmpty) Seq(AllTuples)
    else Seq(ClusteredDistribution(groupBy))
  override protected def doExecute(): RDD[InternalRow] = {
    val (g, o, kk, out) = (groupBy, order, k, child.output)
    child.execute().mapPartitions(TopKPartitionFn.topKWithinPartition(g, o, kk, out),
      preservesPartitioning = true)
  }
  override protected def withNewChildInternal(newChild: SparkPlan): TopKFinalExec =
    copy(child = newChild)
}

object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(groupBy, order, k, child) =>
      TopKFinalExec(groupBy, order, k,
        TopKPartialExec(groupBy, order, k, planLater(child))) :: Nil
    case _ => Nil
  }
}

object TopK {
  /** Sort key for perGroup: column name + direction. */
  final case class SortSpec(column: String, ascending: Boolean = true)
  def asc(column: String): SortSpec = SortSpec(column, ascending = true)
  def desc(column: String): SortSpec = SortSpec(column, ascending = false)

  /** Public API: top `k` rows per `groupBy` group under `orderBy`, written
    * as `row_number()` over the window, `rn <= k` and a drop of `rn`, the
    * shape [[TopKRewriteRule]] turns into the [[TopKPerGroup]] operator.
    * The rule comes only with `spark.sql.extensions=graft.GraftExtensions`
    * (GraftSession sets it); without it this is a plain window, same rows.
    */
  def perGroup(df: DataFrame, groupBy: Seq[String], orderBy: Seq[SortSpec],
               k: Int): DataFrame = {
    require(k > 0, s"TopK.perGroup: k must be positive, got $k")
    val w = Window.partitionBy(groupBy.map(col): _*).orderBy(orderBy.map { s =>
      if (s.ascending) col(s.column).asc else col(s.column).desc
    }: _*)
    df.withColumn("__topk_rn", row_number().over(w))
      .filter(col("__topk_rn") <= k).drop("__topk_rn")
  }
}
