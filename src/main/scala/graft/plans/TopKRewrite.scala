package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, EqualTo, Expression, IntegerLiteral, LessThan, LessThanOrEqual, RowNumber, SortOrder, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: `Filter(row_number <= k)` over a ranking Window →
  * [[TopKPerKeyNode]] (the bounded-heap operator).
  *
  * The window formulation shuffles and SORTS every row of every key group
  * before discarding all but k of them; after this rewrite only k rows per
  * key cross the shuffle. The rewrite preserves semantics exactly when the
  * window computes a single `row_number` over (partitionBy, orderBy): the
  * kept rows and their ranks are identical (for non-total orderings both
  * formulations are nondeterministic in the same way).
  *
  * Guarded: single window expression, row_number only, k ≤ maxK (the heap
  * holds k rows per key per task), bound strictly positive, and at least one
  * PARTITION BY key — a global (unpartitioned) top-k stays on Spark's window
  * path, since TopKPerKeyExec requires a ClusteredDistribution over the keys
  * and ClusteredDistribution(Nil) is rejected at planning. Registered by
  * [[graft.GraftSession.setup]]; `spark.sql.optimizer.excludedRules` can
  * switch it off per session.
  */
object TopKRewrite extends Rule[LogicalPlan] {
  private val maxK = 1000

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, w @ Window(Seq(alias @ Alias(
          WindowExpression(_: RowNumber,
            WindowSpecDefinition(partitionSpec, orderSpec, _)), _)),
          _, _, child, _))
        if orderSpec.nonEmpty && partitionSpec.nonEmpty &&
          partitionSpec.forall(_.isInstanceOf[Attribute]) =>
      val rn = alias.toAttribute
      // Spark's own InferWindowGroupLimit may already have inserted a
      // WindowGroupLimit below the window — our operator subsumes it
      val source = child match {
        case WindowGroupLimit(_, _, _, _, grandChild) => grandChild
        case other => other
      }
      splitRnBound(cond, rn) match {
        case Some((k, rest)) if k > 0 && k <= maxK =>
          val topk = TopKPerKeyNode(partitionSpec, orderSpec, k, rn, source)
          rest.fold[LogicalPlan](topk)(Filter(_, topk))
        case _ => f
      }
  }

  /** Extract an upper bound on `rn` from the conjuncts of `cond`; returns
    * (k, remaining predicate). None when no conjunct bounds rn or when rn
    * appears in the remaining conjuncts (can't drop the window then). */
  private def splitRnBound(cond: Expression, rn: Attribute): Option[(Int, Option[Expression])] = {
    val conjuncts = splitConjuncts(cond)
    val (bounds, rest) = conjuncts.partitionMap {
      case LessThanOrEqual(a: Attribute, IntegerLiteral(k)) if a.semanticEquals(rn) => Left(k)
      case LessThan(a: Attribute, IntegerLiteral(k)) if a.semanticEquals(rn) => Left(k - 1)
      case EqualTo(a: Attribute, IntegerLiteral(1)) if a.semanticEquals(rn) => Left(1)
      case other => Right(other)
    }
    if (bounds.isEmpty || rest.exists(_.references.contains(rn))) None
    else Some((bounds.min, rest.reduceOption(And)))
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }
}
