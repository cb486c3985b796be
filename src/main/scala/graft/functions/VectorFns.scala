package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over Array[Float]/Array[Double] columns via higher-order
  * functions — sequential left-fold accumulation in double precision, the
  * same evaluation order DuckDB's list functions use, which keeps the
  * similarity oracles bit-comparable (outputs are additionally rounded to
  * 4 decimals so last-bit drift can never flip a comparison).
  */
object VectorFns {

  /** Every pair of elements of `arr` taken in array order, (arr[i],
    * arr[j]) with i < j, as `pair(x, y)`: element i pairs with every
    * later element (slice is 1-based, so it starts at i + 2). A sorted
    * distinct array yields each unordered pair once.
    */
  def orderedPairs(arr: Column)(pair: (Column, Column) => Column): Column =
    flatten(transform(arr, (x, i) =>
      transform(slice(arr, i + lit(2), size(arr)), y => pair(x, y))))

  /** Cast an Array[Float] embedding column to Array[Double]. */
  def asDouble(v: Column): Column = v.cast("array<double>")

  /** Dot product — the native codegen'd `vec_dot` expression (one plan
    * node, tight primitive loop). Same left-to-right double accumulation
    * as DuckDB's list_sum, so oracles stay exact. This replaced an
    * unrolled 64-term element_at chain: the chain also codegen'd, but
    * cost ~0.3-0.5s of Catalyst planning per ANN query because optimizer
    * time scales with plan-tree size. Higher-order zip_with/aggregate
    * remain wrong for the pairwise hot path (interpreted per element,
    * ~50µs/pair at dim 64).
    */
  def dot(a: Column, b: Column, dims: Int = 64): Column =
    call_function("vec_dot", a, b)

  /** Squared L2 norm. */
  def normSq(v: Column, dims: Int = 64): Column = dot(v, v, dims)

  /** Cosine similarity given precomputed squared norms (computed as
    * dot/(sqrt(na)*sqrt(nb)) — mirror this exact expression shape in any
    * oracle).
    */
  def cosineWithNorms(dotAb: Column, normSqA: Column, normSqB: Column): Column =
    dotAb / (sqrt(normSqA) * sqrt(normSqB))

  /** Signed projection of v onto the deterministic integer-valued
    * hyperplane family used by LSH bucketing:
    * plane j has coefficient ((i*7 + j*13) mod 11) - 5 at dimension i.
    * Integer coefficients make the projections exactly reproducible in SQL.
    *
    * Deliberately a compact HOF (not unrolled like `dot`): bucket
    * assignment runs once per ROW, where interpreted evaluation is cheap,
    * while an 8-plane × 64-term unrolled tree costs ~2s of optimizer/
    * codegen time per query — planning time scales with plan-tree size.
    */
  def planeDot(v: Column, j: Int, dims: Int): Column =
    aggregate(
      transform(sequence(lit(0), lit(dims - 1)),
        i => element_at(v, i + 1) * ((i * 7 + lit(j * 13)) % 11 - 5).cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Random-hyperplane LSH bucket id from `planes` sign bits. */
  def lshBucket(v: Column, planes: Int, dims: Int): Column =
    (0 until planes)
      .map(j => when(planeDot(v, j, dims) > 0, lit(1L << j)).otherwise(0L))
      .reduce(_ + _)
}
