package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graft.DatasetBridge
import org.apache.spark.sql.types.LongType

/** Per-key top-k as a first-class operator (SURVEY.md §7.4 stretch /
  * builder-prompt custom-operator route (c): LogicalPlan + Strategy +
  * SparkPlan, registered via extensions).
  *
  * Why not the `row_number().over(...)` window (q08)? The window operator
  * SORTS every row of every key group before ranking — O(n log n) per
  * partition and full materialization of each group. This operator keeps a
  * bounded heap of k rows per key:
  *
  *   partial (map side):  heap per key per input partition → at most
  *                        k·keys rows enter the shuffle, like a partial
  *                        aggregation;
  *   final (reduce side): heaps again after clustering by key, then each
  *                        key's ≤k survivors are sorted (k log k) and
  *                        ranked.
  *
  * At 100 TB this is the difference between shuffling the whole fact table
  * to sort it and shuffling k rows per key.
  */
case class TopKPerKeyNode(
    groupKeys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rn: Attribute,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rn
  // rn is born here, not consumed from below
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rn)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

/** Planner strategy: partial exec below, final exec above; the final's
  * ClusteredDistribution requirement makes EnsureRequirements insert the
  * key-hash exchange between them. */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(keys, order, k, rn, child) =>
      val partial = TopKPerKeyExec(keys, order, k, None, planLater(child))
      TopKPerKeyExec(keys, order, k, Some(rn), partial) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(
    groupKeys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rn: Option[Attribute], // defined = final stage (emits the rank)
    child: SparkPlan) extends UnaryExecNode {

  private def isFinal = rn.isDefined

  override def output: Seq[Attribute] = child.output ++ rn.toSeq

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rn.toSeq)

  override def requiredChildDistribution: Seq[Distribution] =
    if (isFinal) ClusteredDistribution(groupKeys) :: Nil
    else UnspecifiedDistribution :: Nil

  // this operator never moves rows between partitions (pure
  // mapPartitions), so the child's partitioning survives it. Without this
  // override SparkPlan's default (UnknownPartitioning) applies and
  // EnsureRequirements inserts a key-hash exchange between partial and
  // final EVEN WHEN the input is already clustered on the keys — and
  // re-exchanges every downstream consumer keyed the same way.
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val keyExprs = groupKeys
    val sortOrder = order
    val childOutput = child.output
    val limit = k
    val emitRank = isFinal
    val rnOut = rn.toSeq
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      // max-heap under the requested order: head = worst survivor
      val ord: Ordering[InternalRow] =
        new LazilyGeneratedOrdering(sortOrder, childOutput)
      val heaps = mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[UnsafeRow]]
      iter.foreach { row =>
        val key = keyProj(row)
        val heap = heaps.get(key) match {
          case Some(h) => h
          case None =>
            val h = mutable.PriorityQueue.empty[UnsafeRow](
              ord.asInstanceOf[Ordering[UnsafeRow]])
            heaps.put(key.copy(), h)
            h
        }
        if (heap.size < limit) {
          heap.enqueue(row.asInstanceOf[UnsafeRow].copy())
        } else if (ord.compare(row, heap.head) < 0) {
          heap.dequeue()
          heap.enqueue(row.asInstanceOf[UnsafeRow].copy())
        }
      }
      if (!emitRank) heaps.valuesIterator.flatMap(_.iterator)
      else {
        // downstream operators (exchanges, sorts) require UnsafeRow —
        // flatten the (row, rank) JoinedRow through an unsafe projection.
        // Rank type follows the rn attribute: IntegerType when the node
        // came from a row_number() rewrite, LongType from the direct API.
        val outAttrs = childOutput ++ rnOut
        val outProj = UnsafeProjection.create(outAttrs, outAttrs)
        val rankIsLong = rnOut.head.dataType == LongType
        heaps.valuesIterator.flatMap { heap =>
          val sorted = heap.dequeueAll.reverse // ascending under `order`
          sorted.iterator.zipWithIndex.map { case (row, i) =>
            val rank = if (rankIsLong) InternalRow((i + 1).toLong)
                       else InternalRow(i + 1)
            outProj(new JoinedRow(row, rank)): InternalRow
          }
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

object TopKPerKey {
  /** A sort key by column name; `asc = false` for descending. Nulls order
    * follows Spark's default for the direction (nulls first when
    * ascending, last when descending). */
  final case class SortKey(name: String, asc: Boolean = true)

  /** DataFrame API: exact per-key top-k with rank column `rankName`.
    * Sort keys must yield a total order (include a unique tie-breaker)
    * for deterministic results. Precondition: the session was built by
    * [[graft.GraftSession]] (or passed to [[graft.GraftSession.setup]]) —
    * [[TopKPerKeyStrategy]] must be registered, or planning the node
    * fails. */
  def apply(df: DataFrame, keyNames: Seq[String], orderBy: Seq[SortKey],
            k: Int, rankName: String = "rn"): DataFrame = {
    val spark = df.sparkSession
    val plan = DatasetBridge.logicalPlan(df)
    def attr(n: String): Attribute =
      plan.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"no column $n in ${plan.output}"))
    val keyAttrs = keyNames.map(attr)
    val sortOrders = orderBy.map { sk =>
      val dir = if (sk.asc) org.apache.spark.sql.catalyst.expressions.Ascending
                else org.apache.spark.sql.catalyst.expressions.Descending
      SortOrder(attr(sk.name), dir)
    }
    val rnAttr = AttributeReference(rankName, LongType, nullable = false)()
    DatasetBridge.ofRows(spark,
      TopKPerKeyNode(keyAttrs, sortOrders, k, rnAttr, plan))
  }
}
