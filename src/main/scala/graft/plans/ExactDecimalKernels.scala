package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{AGGREGATE_EXPRESSION, BINARY_ARITHMETIC, CAST}
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.functions.{ExactDecimal, ExactDecimalMultiply, ExactDecimalSum, ExactDoubleToDecimal}

/** Routes the DECIMAL determinism contract's three hot shapes to the exact
  * long kernels of [[graft.functions.ExactDecimal]]:
  *
  *  - `CAST(double AS DECIMAL(p, s))`, s ≤ 18 → [[ExactDoubleToDecimal]];
  *  - `decimal(≤18) * decimal(≤18)` whose result scale is the scale sum
  *    (no precision-loss adjustment) → [[ExactDecimalMultiply]];
  *  - a non-distinct, unfiltered `SUM` of a `decimal(≤18)` inside an
  *    `Aggregate`, in LEGACY or ANSI mode → [[ExactDecimalSum]] (window
  *    sums and `try_sum` keep Spark's `Sum`).
  *
  * The row kernels keep the original expression, re-bound to the operand
  * values, as the fallback for every row they cannot prove, so the plan's
  * results are Spark's bit for bit. Streaming plans are left alone: the
  * limb sum changes an aggregation's state schema. Idempotent — a
  * rewritten node no longer matches. */
object ExactDecimalKernels extends Rule[LogicalPlan] {

  private def small(e: Expression): Boolean = e.dataType match {
    case d: DecimalType => d.precision <= 18
    case _ => false
  }

  private val rowKernels: PartialFunction[Expression, Expression] = {
    case c: Cast if c.child.dataType == DoubleType && (c.dataType match {
          case d: DecimalType => d.scale <= ExactDecimal.MaxScale
          case _ => false
        }) =>
      ExactDoubleToDecimal(c.child,
        c.withNewChildren(Seq(BoundReference(0, DoubleType, c.child.nullable))))
    case m @ Multiply(l, r, _) if small(l) && small(r) && (m.dataType match {
          case d: DecimalType => d.scale ==
            l.dataType.asInstanceOf[DecimalType].scale + r.dataType.asInstanceOf[DecimalType].scale
          case _ => false
        }) =>
      ExactDecimalMultiply(l, r, m.withNewChildren(Seq(
        BoundReference(0, l.dataType, l.nullable),
        BoundReference(1, r.dataType, r.nullable))))
  }

  private val limbSums: PartialFunction[Expression, Expression] = {
    case ae @ AggregateExpression(s: Sum, _, false, None, _)
        if small(s.child) && s.evalContext.evalMode != EvalMode.TRY =>
      ae.copy(aggregateFunction = ExactDecimalSum(s.child,
        s.dataType.asInstanceOf[DecimalType], s.evalContext.evalMode == EvalMode.ANSI,
        s.getContextOrNull()))
  }

  def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.isStreaming) plan
    else plan.transformUpWithPruning(
        _.containsAnyPattern(CAST, BINARY_ARITHMETIC, AGGREGATE_EXPRESSION)) {
      case a: Aggregate =>
        a.transformExpressionsUpWithPruning(
          _.containsAnyPattern(CAST, BINARY_ARITHMETIC, AGGREGATE_EXPRESSION))(
          rowKernels.orElse(limbSums))
      case p =>
        p.transformExpressionsUpWithPruning(
          _.containsAnyPattern(CAST, BINARY_ARITHMETIC))(rowKernels)
    }
}
