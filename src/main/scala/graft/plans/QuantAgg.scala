package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.NumFns
import graft.functions.NumFns.Dec0

/** Quantized two-phase stable aggregation — the fast form of the
  * DECIMAL(38,12) float discipline for FACT-SCALE sums (generalizing
  * the int64 trick measured 4.4× on the PCA moment pass, and 3.6× on
  * TPC-H Q1: a DECIMAL(38,12) `Sum` is BigDecimal-backed per row,
  * while `round(x·10⁶)` longs sum in codegen'd primitive arithmetic).
  *
  * Exactness: each value quantizes to micro-units via the exact
  * [[NumFns.roundAwayLong]] (identical on both engines), so the
  * aggregate is THE exact integer Σ round(x·10⁶) — order-independent by
  * integer associativity, bit-identical to the oracle's
  * `sum(CAST(round(x*1e6) AS BIGINT))` (DuckDB accumulates BIGINT into
  * HUGEINT, also exact). Quantization shifts each sum by ≤ 0.5e-6 per
  * row RELATIVE TO the unquantized ideal, but both engines agree on the
  * quantized definition, and final rounding goes through the portable
  * scaled-binary round because a micro-unit grid value CAN land exactly
  * on a rounding boundary.
  *
  * Overflow staging (the reason this is two-phase and not one
  * `sum(long)`): stage 1 groups by (keys, salt) — salt from a
  * content-derived key — so each partial long sum covers ~1/salts of a
  * group's mass; with |x| ≤ 1e6 units·1e6 quanta, int64 holds ~9e6
  * rows per partial per unit-magnitude — salts scale out the bound the
  * same way [[graft.operators.Similarity.qPcaPowerIter]]'s moment pass
  * does. Stage 2 folds the (keys×salts)-sized partial frame as
  * DECIMAL(38,0) — exact, and decimal cost is now paid on a
  * dimension-sized frame instead of per fact row.
  */
object QuantAgg {

  val Scale = 1e6

  /** A stable sum/mean output column: quantized-exact Σx (or Σx/n),
    * rounded portably at `digits` (must be ≤ 6, the quantization grid).
    */
  final case class Spec(x: Column, out: String, digits: Int, mean: Boolean = false) {
    require(digits <= 6, s"digits must be <= 6 (the micro-unit grid), got $digits")
  }

  /** Two-phase grouped aggregate over `df`: exact quantized sums/means
    * per `grp` keys, plus an optional row count (`countAs`). `saltKey`
    * is any content-derived column spreading each group's mass across
    * `salts` stage-1 partials.
    */
  def agg(df: DataFrame, grp: Seq[String], saltKey: Column,
      specs: Seq[Spec], countAs: Option[String] = None,
      salts: Int = 64): DataFrame = {
    val qCols = specs.zipWithIndex.map { case (sp, i) =>
      sum(NumFns.roundAwayLong(sp.x * Scale)).as(s"_q$i")
    }
    val stage1 = df
      .groupBy((grp.map(col) :+ pmod(hash(saltKey), lit(salts)).as("_salt")): _*)
      .agg(qCols.head, (qCols.tail :+ count(lit(1)).as("_n")): _*)
    val s2Cols = specs.indices.map(i => sum(col(s"_q$i").cast(Dec0)).as(s"_s$i")) :+
      sum(col("_n")).as("_nn")
    val stage2 = stage1.groupBy(grp.map(col): _*)
      .agg(s2Cols.head, s2Cols.tail: _*)
    val outCols = grp.map(col) ++ specs.zipWithIndex.map { case (sp, i) =>
      val v = col(s"_s$i").cast("double") / Scale
      val finalV = if (sp.mean) v / col("_nn") else v
      NumFns.roundPortable(finalV, sp.digits).as(sp.out)
    } ++ countAs.map(n => col("_nn").as(n)).toSeq
    stage2.select(outCols: _*)
  }
}
