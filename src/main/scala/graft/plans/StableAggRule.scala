package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, IntegerType}

import graft.functions.NumFns.Dec12

/** Optimizer rule enforcing the engine's float discipline on GROUPED
  * aggregates: `round(avg(x), k)` and `round(sum(x), k)` over a double
  * column are rewritten to the order-independent DECIMAL(38,12) form
  * (exact per-row cast → associative-exact decimal sum → one cast back
  * → one round), the same transform [[graft.functions.NumFns]] applies
  * at hand-audited call sites.
  *
  * Why a Rule and not a convention: a rounded double aggregate is NOT
  * stable under distributed execution — partial-sum accumulation order
  * varies run to run, so a group whose mean sits at a `…5e-(k+1)`
  * boundary flips its k-th decimal nondeterministically (the r3
  * q_kmeans_step flake). Auditing call sites catches the engine's own
  * queries; the rule catches every query a USER writes against a graft
  * session. This deliberately changes boundary-case results — from "one
  * of several run-dependent answers" to "the single order-independent
  * answer" — which is a determinism guarantee, not an equivalence.
  *
  * Scope guards: only aggregates inside [[Aggregate]] nodes (window
  * round-aggs are sequential in frame order on both engines and need no
  * stabilization — see NumFns), only non-distinct Sum/Average over
  * DoubleType, only literal int scales. FILTER clauses survive via copy.
  * The rewrite introduces no extra pass: sum and count land in the same
  * hash aggregate the average lowered to.
  */
object StableAggRule extends Rule[LogicalPlan] {

  private def stamped(ae: AggregateExpression, f: AggregateFunction): AggregateExpression =
    ae.copy(aggregateFunction = f, resultId = NamedExpression.newExprId)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg: Aggregate =>
      agg.transformExpressionsUp {
        case r: Round =>
          (r.child, r.scale) match {
            case (ae @ AggregateExpression(a: Average, _, false, _, _), Literal(_, IntegerType))
                if a.child.dataType == DoubleType =>
              val sumDec = stamped(ae, Sum(Cast(a.child, Dec12)))
              val cnt = stamped(ae, Count(Seq(a.child)))
              r.copy(child = Divide(Cast(sumDec, DoubleType), Cast(cnt, DoubleType)))
            case (ae @ AggregateExpression(s: Sum, _, false, _, _), Literal(_, IntegerType))
                if s.child.dataType == DoubleType =>
              r.copy(child = Cast(stamped(ae, Sum(Cast(s.child, Dec12))), DoubleType))
            case _ => r
          }
      }
  }
}
