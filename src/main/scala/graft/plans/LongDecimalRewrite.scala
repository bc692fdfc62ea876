package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, CheckOverflowInSum, If}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.CurrentOrigin
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import graft.functions.{ExactDecimalSum, ExactDoubleToDecimal}

/** Optimizer rule: money decimals on longs. It rewrites
  *
  *   - `Cast(DOUBLE → DECIMAL(p ≤ 18, s))` into [[ExactDoubleToDecimal]],
  *     which rounds HALF_UP on longs and keeps the original Cast as its
  *     fallback for every input outside the exact fast domain;
  *   - `Sum(DECIMAL(8 < p ≤ 18, s))` in a batch Aggregate or Window into
  *     [[ExactDecimalSum]], which accumulates on two longs instead of a
  *     DECIMAL(p + 10, s) buffer.
  *
  * Why this exists: Spark casts DOUBLE to DECIMAL through
  * `Double.toString` and a BigDecimal parse per value, and sums
  * DECIMAL(18, 6) into a DECIMAL(28, 6) buffer that lives as BigInteger
  * bytes in the aggregation row: every update reads, adds and re-encodes a
  * BigDecimal. Its own long rewrite (`DecimalAggregates`) only covers
  * p ≤ 8. The dbt marts do exactly this math (`dec6` casts and sums) per
  * line item.
  *
  * Values, nulls and errors are Spark's own: see the two expressions and
  * SCALE.md ("Exact long kernels for money decimals") for the exactness
  * argument. Both kernels generate code, so the operators stay inside
  * whole-stage codegen.
  *
  * Injection point: `injectPreCBORule` (wired in `graft.GraftExtensions`),
  * after constant folding and before `DecimalAggregates`, which still owns
  * sums at p ≤ 8.
  */
object LongDecimalRewrite extends Rule[LogicalPlan] {

  // A streaming aggregate keeps Spark's Sum: its buffer is the state-store
  // schema that an existing checkpoint pins.
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case a: Aggregate if !a.isStreaming =>
      rewriteCasts(rewriteSums(a, checkEachStep = unsafeRowBuffers(a)))
    case w: Window if !w.isStreaming => rewriteCasts(rewriteSums(w, checkEachStep = false))
    case other => rewriteCasts(other)
  }

  /** Spark keeps a grouped aggregate's buffers in UnsafeRows, which
    * re-check a decimal's precision on every write, exactly when it plans
    * a HashAggregate (its sort fallback uses UnsafeRows too). Otherwise
    * (object-hash or sort aggregates over other buffer types, and every
    * global aggregate's generated code) the buffer is a plain Decimal. */
  private def unsafeRowBuffers(a: Aggregate): Boolean =
    a.groupingExpressions.nonEmpty && Aggregate.supportsHashAggregate(
      a.aggregateExpressions.flatMap(_.collect {
        case ae: AggregateExpression => ae.aggregateFunction.aggBufferAttributes
      }.flatten),
      a.groupingExpressions)

  private def rewriteSums(node: LogicalPlan, checkEachStep: Boolean): LogicalPlan =
    node.transformExpressions {
      case s: Sum => exactSum(s, checkEachStep).getOrElse(s)
    }

  /** Only a Sum whose result and overflow check are the ones this kernel
    * reproduces: DECIMAL(p + 10, s) through CheckOverflowInSum. */
  private[graft] def exactSum(s: Sum, checkEachStep: Boolean): Option[ExactDecimalSum] =
    (s.child.dataType, s.dataType, s.evaluateExpression) match {
      case (in: DecimalType, out: DecimalType, If(_, _, CheckOverflowInSum(_, d, nullOnOverflow, ctx)))
          if in.precision > 8 && in.precision <= 18 && out == d &&
            out == DecimalType(in.precision + 10, in.scale) =>
        Some(ExactDecimalSum(s.child, out, nullOnOverflow, checkEachStep)(ctx))
      case _ => None
    }

  private def rewriteCasts(node: LogicalPlan): LogicalPlan = node.transformExpressions {
    case c: Cast => exactCast(c).getOrElse(c)
  }

  private[graft] def exactCast(c: Cast): Option[ExactDoubleToDecimal] = c match {
    case Cast(child, d: DecimalType, tz, mode) if child.dataType == DoubleType && d.precision <= 18 =>
      // built under the original's origin, so a fallback error carries
      // the same query context
      val fallback = CurrentOrigin.withOrigin(c.origin) {
        Cast(BoundReference(0, DoubleType, child.nullable), d, tz, mode)
      }
      Some(ExactDoubleToDecimal(child, fallback))
    case _ => None
  }
}
