package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Grouped top-k: Filter(row_number <= k, Window) must plan Spark's
  * Partial WindowGroupLimit below the hash exchange and its Final one
  * above it, and keep exactly the rows a driver-side per-key sort keeps.
  */
class GroupedTopKSpec extends SparkSpec {

  import spark.implicits._

  private def ranked(n: Int) = {
    // deterministic pseudo-random data over 7 keys with a total
    // tie-break (id), including exact score ties inside a key
    (1 to n).map { i => (i % 7, (i * 2654435761L % 97).toInt, i.toLong) }
      .toDF("g", "score", "id")
  }

  private val w = Window.partitionBy(col("g")).orderBy(col("score").desc, col("id"))

  private def topkDf(k: Int) =
    ranked(500).withColumn("rk", row_number().over(w)).filter(col("rk") <= k)

  /** The reference computed on the driver: per key, sort by
    * (score desc, id) and take k; each row with its 1-based rank.
    */
  private def expected(n: Int, k: Int): Seq[(Int, Int, Long, Int)] =
    ranked(n).collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1).toSeq.flatMap { case (_, rs) =>
        rs.sortBy { case (_, s, id) => (-s, id) }.take(k).zipWithIndex
          .map { case ((g, s, id), i) => (g, s, id, i + 1) }
      }.sortBy { case (g, _, id, _) => (g, id) }

  private def rows(df: DataFrame): Seq[(Int, Int, Long)] =
    df.select(col("g"), col("score"), col("id")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      .sortBy { case (g, _, id) => (g, id) }.toSeq

  /** Asserts the Partial limit sits below the hash exchange and the
    * Final one above it; the plan prints top-down.
    */
  private def assertLimitStraddlesExchange(df: DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    val lines = plan.linesIterator.toSeq
    val ex = lines.indexWhere(_.contains("Exchange hashpartitioning"))
    assert(ex >= 0, s"no hash exchange in:\n$plan")
    assert(lines.take(ex).exists(l => l.contains("WindowGroupLimit") && l.contains("Final")),
      s"no Final WindowGroupLimit above the exchange:\n$plan")
    assert(lines.drop(ex).exists(l => l.contains("WindowGroupLimit") && l.contains("Partial")),
      s"no Partial WindowGroupLimit below the exchange:\n$plan")
  }

  test("the rank-filter idiom plans a Partial WindowGroupLimit below the exchange and a Final one above") {
    assertLimitStraddlesExchange(topkDf(3))
  }

  test("lowered results are bit-identical to the unlowered window form") {
    val got = topkDf(3).select(col("g"), col("score"), col("id"), col("rk"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getInt(3)))
      .sortBy { case (g, _, id, _) => (g, id) }.toSeq
    assert(got == expected(500, 3))
  }

  test("rn = 1 (argmax) and conjunct filters lower too, keeping the other conjunct") {
    val df = ranked(300).withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1 && col("score") >= 0)
    assertLimitStraddlesExchange(df)
    val got = df.collect()
    assert(got.length == 7)
    assert(got.forall(_.getAs[Int]("rk") == 1))
    assert(rows(df) == expected(300, 1).map { case (g, s, id, _) => (g, s, id) })
  }

  test("dropping the rank column keeps exactly the driver-computed top-k rows") {
    val df = topkDf(3).select(col("g"), col("score"), col("id"))
    assertLimitStraddlesExchange(df)
    assert(rows(df) == expected(500, 3).map { case (g, s, id, _) => (g, s, id) })
  }

  test("the re-rank survives when the rank column is still consumed") {
    val kept = topkDf(3).select(col("g"), col("rk"))
    assert(kept.queryExecution.executedPlan.toString.contains("Window"),
      "rank consumed downstream — the window must stay")
    // a rank conjunct that is not a bound filters after the limit
    val second = ranked(300).withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3 && col("rk") =!= 2).select(col("g"), col("id"))
    assertLimitStraddlesExchange(second)
    assert(second.count() == 14)
  }

  test("non-rank conjuncts filter the top-k as a residual beside the limit") {
    val df = ranked(300).withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3 && col("score") >= 50)
      .select(col("g"), col("score"), col("id"))
    assertLimitStraddlesExchange(df)
    assert(rows(df) == expected(300, 3).collect { case (g, s, id, _) if s >= 50 => (g, s, id) })
  }
}
