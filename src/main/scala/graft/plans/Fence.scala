package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.monotonically_increasing_id

/** Optimizer fence for filters over expensive derived columns.
  *
  * Catalyst's PushPredicateThroughNonJoin pushes a filter on a projected
  * column back through its projection — and when the projection sits on a
  * join, the predicate lands in the join's non-equi condition, where big
  * expression trees (64-term dot products, array intersections) are
  * evaluated row-at-a-time instead of inside the codegen'd project.
  * Measured on the similarity self-join: 0.15s as a codegen'd project vs
  * 4.5s pushed into the join — a 30× cliff.
  *
  * A nondeterministic projected column doesn't survive (ColumnPruning
  * removes unreferenced columns, then the push happens anyway); what does
  * work is making the FILTER itself non-pushable: predicate-pushdown rules
  * require `cond.deterministic`, so AND-ing an always-true nondeterministic
  * term pins the filter exactly where it was written.
  */
object Fence {

  /** A value-identical copy of the (double) column that reads as
    * nondeterministic to the optimizer: monotonic ids are non-negative
    * longs ≤ 2^63, so id * 0.0 is exactly +0.0 and x + 0.0 == x for every
    * comparison against a positive threshold. A filter built on this
    * column cannot be pushed or conjunct-split (pushdown rules require
    * `cond.deterministic` — and AND-splitting would otherwise push the
    * deterministic half anyway).
    */
  def noPush(c: Column): Column = c + monotonically_increasing_id() * 0.0

  /** Apply `cond(noPush(valueCol))` as a filter pinned exactly where it is
    * written — the expensive value column stays in the codegen'd project
    * below instead of migrating into a join condition.
    */
  def filterNoPushdown(df: DataFrame, valueCol: Column, cond: Column => Column): DataFrame =
    df.filter(cond(noPush(valueCol)))

  /** `df.filter(cond)` pinned where it is written, for a boolean column:
    * `cond <=> true` with the true read from a nondeterministic term, one
    * predicate that no rule pushes or splits. NULL still drops the row.
    */
  def filterNoPushdown(df: DataFrame, cond: Column): DataFrame =
    df.filter(cond <=> (monotonically_increasing_id() >= 0))
}
