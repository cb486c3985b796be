package graft.plans

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The grouped-top-k lowering: Filter(row_number <= k, Window) must plan
  * the map-side TopKPerKeyExec pair, keep bit-identical results, and
  * refuse every shape whose semantics a bounded heap cannot reproduce.
  */
class GroupedTopKSpec extends SparkSpec {

  import spark.implicits._

  private def ranked(n: Int) = {
    // deterministic pseudo-random data over 7 keys with a total
    // tie-break (id), including exact score ties inside a key
    (1 to n).map { i => (i % 7, (i * 2654435761L % 97).toInt, i.toLong) }
      .toDF("g", "score", "id")
  }

  private def topkDf(k: Int) = {
    val w = Window.partitionBy(col("g")).orderBy(col("score").desc, col("id"))
    ranked(500).withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  test("the rank-filter idiom plans the partial/final heap pair around one exchange") {
    val plan = topkDf(3).queryExecution.executedPlan.toString
    // physical nodeName prints without the Exec suffix; partial below
    // the exchange, final above it
    assert("TopKPerKey ".r.findAllIn(plan).length == 2, s"expected 2 heap phases in:\n$plan")
    val lines = plan.linesIterator.toSeq
    val ex = lines.indexWhere(_.contains("Exchange hashpartitioning"))
    assert(ex >= 0 && lines.take(ex).exists(_.contains("TopKPerKey "))
      && lines.drop(ex).exists(_.contains("TopKPerKey ")),
      s"heap phases must straddle the exchange:\n$plan")
  }

  test("lowered results are bit-identical to the unlowered window form") {
    val expected = {
      // compute the reference WITHOUT the rule by filtering on the
      // driver: per key, sort by (score desc, id) and take 3
      val rows = ranked(500).collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
        rs.sortBy { case (_, s, id) => (-s, id) }.take(3).zipWithIndex
          .map { case ((_, s, id), i) => (g, s, id, i + 1) }
      }.sortBy { case (g, _, id, _) => (g, id) }
    }
    val got = topkDf(3).select(col("g"), col("score"), col("id"), col("rk"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getInt(3)))
      .sortBy { case (g, _, id, _) => (g, id) }.toSeq
    assert(got == expected)
  }

  test("rn = 1 (argmax) and conjunct filters lower too, keeping the other conjunct") {
    val w = Window.partitionBy(col("g")).orderBy(col("score").desc, col("id"))
    val df = ranked(300).withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1 && col("score") >= 0)
    assert(df.queryExecution.executedPlan.toString.contains("TopKPerKey "))
    val got = df.collect()
    assert(got.length == 7)
    assert(got.forall(_.getAs[Int]("rk") == 1))
  }

  test("rank()/dense_rank(), unfiltered windows, and huge k do not lower") {
    val w = Window.partitionBy(col("g")).orderBy(col("score").desc, col("id"))
    val rk = ranked(100).withColumn("rk", rank().over(w)).filter(col("rk") <= 3)
    assert(!rk.queryExecution.executedPlan.toString.contains("TopKPerKey "),
      "rank() ties-at-k semantics must not lower to a bounded heap")
    val unf = ranked(100).withColumn("rk", row_number().over(w))
    assert(!unf.queryExecution.executedPlan.toString.contains("TopKPerKey "),
      "no filter, no lowering")
    val huge = ranked(100).withColumn("rk", row_number().over(w))
      .filter(col("rk") <= GroupedTopKRule.MaxK + 1)
    assert(!huge.queryExecution.executedPlan.toString.contains("TopKPerKey "),
      "k beyond the heap contract must not lower")
  }

  test("heap phase bounds what reaches the exchange") {
    // 500 rows, 7 keys, k=2: the partial phase emits at most
    // k·keys·inputPartitions rows; probe the partial operator directly
    // (AQE wraps the executed plan, so disable it for the probe)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = topkDf(2)
      val partials = df.queryExecution.executedPlan.collect {
        case t: TopKPerKeyExec if t.partial => t
      }
      assert(partials.nonEmpty, df.queryExecution.executedPlan.toString)
      val emitted = partials.head.execute().count()
      val inputPartitions = ranked(500).rdd.getNumPartitions
      assert(emitted <= 2L * 7 * inputPartitions,
        s"partial phase must bound its output: $emitted rows")
      assert(df.count() == 14)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("dropping the rank column eliminates the re-rank window entirely") {
    // r13: Project(no rk, Filter(rk <= k, Window)) must plan as
    // Project(TopKPerKey pair) with NO Window and NO re-rank sort —
    // the final heap phase already emits exactly the k smallest per key
    val df = topkDf(3).select(col("g"), col("score"), col("id"))
    val plan = df.queryExecution.executedPlan.toString
    assert("TopKPerKey ".r.findAllIn(plan).length == 2, plan)
    assert(!plan.contains("Window"), s"re-rank window not eliminated:\n$plan")
    // bit-identical to the driver-computed reference
    val expected = ranked(500).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1).toSeq.flatMap { case (_, rs) =>
        rs.sortBy { case (_, s, id) => (-s, id) }.take(3)
      }.sortBy { case (g, _, id) => (g, id) }
    val got = df.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      .sortBy { case (g, _, id) => (g, id) }.toSeq
    assert(got == expected)
  }

  test("the re-rank survives when the rank column is still consumed") {
    val kept = topkDf(3).select(col("g"), col("rk"))
    assert(kept.queryExecution.executedPlan.toString.contains("Window"),
      "rank consumed downstream — the window must stay")
    // a non-bound rank conjunct also blocks the elimination
    val w = Window.partitionBy(col("g")).orderBy(col("score").desc, col("id"))
    val second = ranked(300).withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3 && col("rk") =!= 2).select(col("g"), col("id"))
    assert(second.queryExecution.executedPlan.toString.contains("Window"),
      "rk != 2 uses the rank beyond a bound — must not eliminate")
    assert(second.count() == 14)
  }

  test("non-rank conjuncts survive the eliminated filter as a residual") {
    val w = Window.partitionBy(col("g")).orderBy(col("score").desc, col("id"))
    val df = ranked(300).withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3 && col("score") >= 50)
      .select(col("g"), col("score"), col("id"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    val expected = ranked(300).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1).toSeq.flatMap { case (_, rs) =>
        rs.sortBy { case (_, s, id) => (-s, id) }.take(3)
      }.filter(_._2 >= 50).sortBy { case (g, _, id) => (g, id) }
    val got = df.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      .sortBy { case (g, _, id) => (g, id) }.toSeq
    assert(got == expected)
  }

  test("the kill switch restores the stock plan") {
    spark.conf.set("spark.sql.optimizer.excludedRules", "graft.plans.GroupedTopKRule")
    try {
      assert(!topkDf(3).queryExecution.executedPlan.toString.contains("TopKPerKey "))
    } finally spark.conf.unset("spark.sql.optimizer.excludedRules")
    assert(topkDf(3).queryExecution.executedPlan.toString.contains("TopKPerKey "))
  }
}
