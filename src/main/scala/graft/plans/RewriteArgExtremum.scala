package graft.plans

import graft.functions.BoundedHeap
import org.apache.spark.sql.catalyst.expressions.{RowOrdering, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Max, MaxBy, Min, MinBy
}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Rewrite `min_by`/`max_by` — and plain `min`/`max` — with a
  * non-mutable carried value (struct, string, array, …) to
  * [[BoundedHeap]]'s `min_by_object` / `max_by_object`.
  *
  * The built-in declarative `MinBy`/`MaxBy` put the carried value into
  * the aggregation buffer; when that value's type is not mutable in an
  * `UnsafeRow` the planner rejects hash aggregation and the whole
  * `Aggregate` — including every OTHER function in it — falls back to
  * SortAggregate: a per-partition sort of all input rows. At 100 TB
  * that turns a linear hash pass into n·log(n) sorts. The typed
  * imperative [[BoundedHeap]] keeps an opaque buffer, so the planner
  * picks ObjectHashAggregate instead (hash partials, no sort).
  *
  * Results are identical except for ties in the ordering expression,
  * where both forms are documented as nondeterministic. Mutable-typed
  * carries (ints, doubles…) are left alone — for those the built-in
  * stays in codegen'd HashAggregate, which is better still.
  *
  * Injected by [[graft.GraftExtensions]] as an optimizer rule; the
  * rewrite preserves dataType and nullability, so it is safe after
  * analysis.
  */
object RewriteArgExtremum extends Rule[LogicalPlan] {

  // the carried value only needs to dodge the mutable-buffer check; the
  // ordering side's orderability was already validated during analysis
  private def carryHitsFallback(
      e: org.apache.spark.sql.catalyst.expressions.Expression
  ): Boolean = e.resolved && !UnsafeRow.isMutable(e.dataType)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg: Aggregate =>
      agg.transformExpressions {
        case ae @ AggregateExpression(MinBy(v, o), _, false, _, _)
            if carryHitsFallback(v) =>
          ae.copy(aggregateFunction = BoundedHeap(v, o, 1, BoundedHeap.MinBy))
        case ae @ AggregateExpression(MaxBy(v, o), _, false, _, _)
            if carryHitsFallback(v) =>
          ae.copy(aggregateFunction = BoundedHeap(v, o, 1, BoundedHeap.MaxBy))
        // min/max ordered by their own value: same interpreted ordering,
        // same null-skip semantics
        case ae @ AggregateExpression(Min(c), _, false, _, _)
            if carryHitsFallback(c) && RowOrdering.isOrderable(c.dataType) =>
          ae.copy(aggregateFunction = BoundedHeap(c, c, 1, BoundedHeap.MinBy))
        case ae @ AggregateExpression(Max(c), _, false, _, _)
            if carryHitsFallback(c) && RowOrdering.isOrderable(c.dataType) =>
          ae.copy(aggregateFunction = BoundedHeap(c, c, 1, BoundedHeap.MaxBy))
      }
  }
}
