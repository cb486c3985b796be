package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, rand}

/** Optimizer fence for filters over expensive derived columns.
  *
  * Catalyst's PushPredicateThroughNonJoin pushes a filter on a projected
  * column back through its projection, with the projected expressions
  * inlined into the predicate — and when the projection sits on a join,
  * the predicate lands in the join's non-equi condition, where big
  * expression trees (64-term dot products, array intersections) are
  * evaluated row-at-a-time instead of inside the codegen'd project.
  * Measured on the similarity self-join: 0.15s as a codegen'd project vs
  * 4.5s pushed into the join — a 30× cliff. Above a plain projection the
  * push evaluates each inlined expression once more per use, with no
  * common-subexpression elimination in the filter.
  *
  * That rule pushes only through a projection whose fields are all
  * deterministic. So the fence projects one nondeterministic column,
  * `rand(0)`, and the filter reads it (an unread column would be pruned
  * and the push would happen anyway): the filter stays exactly where it
  * was written, above the projection that computes its inputs once.
  * `rand` is allowed in a streaming plan, where
  * `monotonically_increasing_id` is not.
  */
object Fence {

  private val FenceCol = "__graft_fence"

  /** `df.filter(cond)` pinned where it is written: `cond <=> true`, the
    * true read from the fence column (`rand(0)` lies in [0, 1)). NULL
    * still drops the row. The fence column is dropped again.
    */
  def filterNoPushdown(df: DataFrame, cond: Column): DataFrame =
    df.withColumn(FenceCol, rand(0))
      .filter(cond <=> (col(FenceCol) >= 0))
      .drop(FenceCol)
}
