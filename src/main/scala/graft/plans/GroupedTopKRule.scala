package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Lowers the universal grouped-top-k idiom
  *
  *   `Filter(rn <= k, Window(rn = row_number() OVER (PARTITION BY p ORDER BY s)))`
  *
  * to [[TopKPerKey]] UNDER the window: the heap operator prunes each
  * map-side partition to k rows per key before the exchange, and the
  * window (now over ≤k rows per key, clustered by the SAME exchange)
  * re-derives the rank values for the survivors. With the total sort
  * orders the engine's oracle discipline mandates, the surviving set —
  * and therefore every emitted rank — is bit-identical to the unlowered
  * plan; the filter itself stays put and keeps the `rn <= k` contract.
  *
  * Relation to Spark's own `InferWindowGroupLimit` (3.5+): Spark
  * already bounds the EXCHANGE for this idiom, but its partial
  * `WindowGroupLimitExec` asks for sorted input — the map side pays a
  * full O(n log n) Tungsten sort (with spill) of every input partition
  * before pruning. [[TopKPerKeyExec]] prunes UNSORTED input with
  * bounded per-key heaps — O(n log k), no sort buffer, no spill — and
  * Spark's final-phase machinery then runs over the ≤k·keys survivors
  * unchanged (both rules compose in the executed plan; the downstream
  * re-prune is over already-bounded data).
  *
  * Fires only on the exact safe shape: a single row_number window
  * expression (rank/dense_rank ties would need keep-all-tied-at-k heap
  * semantics), a `<= / < / =`-literal conjunct on the rank attribute,
  * and k ≤ [[MaxK]] (the per-key heap memory contract). Other filter
  * conjuncts are left in place untouched. Like any optimizer rule it
  * can be switched off through Spark's own
  * `spark.sql.optimizer.excludedRules=graft.plans.GroupedTopKRule`.
  */
object GroupedTopKRule extends Rule[LogicalPlan] {

  /** Upper bound on k for the rewrite — one ≤k-row heap lives per
    * distinct key per task.
    */
  val MaxK = 100000

  /** Extracts the top-k bound for `attr` from one comparison conjunct:
    * rn <= k, rn < k+1, k >= rn, k > rn-1... normalized to "keep ranks
    * ≤ bound".
    */
  private def bound(cond: Expression, rn: Attribute): Option[Int] = cond match {
    case LessThanOrEqual(a: Attribute, IntegerLiteral(v)) if a.semanticEquals(rn) => Some(v)
    case LessThan(a: Attribute, IntegerLiteral(v)) if a.semanticEquals(rn) => Some(v - 1)
    case GreaterThanOrEqual(IntegerLiteral(v), a: Attribute) if a.semanticEquals(rn) => Some(v)
    case GreaterThan(IntegerLiteral(v), a: Attribute) if a.semanticEquals(rn) => Some(v - 1)
    case EqualTo(a: Attribute, IntegerLiteral(1)) if a.semanticEquals(rn) => Some(1)
    case EqualTo(IntegerLiteral(1), a: Attribute) if a.semanticEquals(rn) => Some(1)
    case _ => None
  }

  private object IntegerLiteral {
    def unapply(e: Expression): Option[Int] = e match {
      case Literal(v: Int, _) => Some(v)
      case Literal(v: Long, _) if v <= Int.MaxValue && v >= 1 => Some(v.toInt)
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    // r13: when the projection directly above the filter DROPS the rank
    // column, the post-shuffle re-rank is a no-op — the final-phase
    // TopKPerKey already emits exactly the ≤k order-smallest rows per
    // key, every survivor's recomputed row_number is ≤ k by
    // construction, and nothing downstream reads the rank. Eliminating
    // Filter+Window (and with them the physical per-partition Sort the
    // window demands) leaves Project(TopKPerKey): same rows, same
    // attributes, one less full sort of every survivor partition.
    // Conjuncts that are not rank bounds stay as a residual Filter;
    // a conjunct that USES the rank non-trivially disqualifies the
    // elimination (falls through to the under-window lowering below).
    case p @ Project(projList, Filter(cond,
        Window(Seq(a @ Alias(WindowExpression(_: RowNumber, _), _)),
          partitionSpec, orderSpec, child, _)))
        if partitionSpec.nonEmpty && orderSpec.nonEmpty &&
          !projList.exists(_.references.contains(a.toAttribute)) => {
      val rn = a.toAttribute
      val conjuncts = splitConjunctivePredicates(cond)
      val (rnConjuncts, others) =
        conjuncts.partition(_.references.contains(rn))
      val ks = rnConjuncts.flatMap(c => bound(c, rn))
      ks.reduceOption(math.min) match {
        case Some(k) if k >= 1 && k <= MaxK && ks.length == rnConjuncts.length =>
          val topk = child match {
            case t: TopKPerKey
                if t.keyExprs == partitionSpec && t.order == orderSpec &&
                  t.k <= k => t
            case _ => TopKPerKey(partitionSpec, orderSpec, k, child)
          }
          val pruned =
            if (others.isEmpty) topk
            else Filter(others.reduce(And), topk)
          Project(projList, pruned)
        case _ => p
      }
    }
    case f @ Filter(cond,
        w @ Window(Seq(a @ Alias(WindowExpression(_: RowNumber, _), _)),
          partitionSpec, orderSpec, child, _))
        if partitionSpec.nonEmpty && orderSpec.nonEmpty &&
          !child.isInstanceOf[TopKPerKey] =>
      val rn = a.toAttribute
      val conjuncts = splitConjunctivePredicates(cond)
      val ks = conjuncts.flatMap(c => bound(c, rn))
      ks.reduceOption(math.min) match {
        case Some(k) if k >= 1 && k <= MaxK =>
          f.copy(child = w.copy(child = TopKPerKey(partitionSpec, orderSpec, k, child)))
        case _ => f
      }
  }

  private def splitConjunctivePredicates(condition: Expression): Seq[Expression] =
    condition match {
      case And(l, r) => splitConjunctivePredicates(l) ++ splitConjunctivePredicates(r)
      case other => other :: Nil
    }
}

/** Plans [[TopKPerKey]] as the partial/final [[TopKPerKeyExec]] pair;
  * EnsureRequirements inserts the one hash exchange between them.
  */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(keys, order, k, child) =>
      val partial = TopKPerKeyExec(keys, order, k, partial = true, planLater(child))
      TopKPerKeyExec(keys, order, k, partial = false, partial) :: Nil
    case _ => Nil
  }
}
