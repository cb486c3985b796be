package graft.expressions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test}

import graft.SparkSpec
import graft.functions.TextFns

class WsTokensSpec extends SparkSpec {

  // every Java \s byte, the Unicode spaces \s does NOT match (NBSP,
  // U+2003, U+001C), case pairs whose lowering depends on the mapper
  // (İ, Σ/σ/ς, ß, Ⅻ, É), and 4-byte UTF-8
  private val alphabet = Seq("a", "B", "z", "Q", "7", "-", " ", "\t", "\n", "\u000B",
    "\f", "\r", "\u00A0", "\u2003", "\u001C", "İ", "i", "I", "Σ", "σ", "ς", "ß",
    "Ⅻ", "é", "É", "😀")
  private val text: Gen[String] = Gen.frequency(
    1 -> Gen.const(""), 1 -> Gen.const(" "),
    12 -> Gen.listOf(Gen.oneOf(alphabet)).map(_.mkString))
  private val batch: Gen[List[String]] =
    Gen.listOfN(500, Gen.frequency(1 -> Gen.const(null: String), 15 -> text))

  private val regexTokens = split(lower(trim(col("s"))), "\\s+")

  /** The batch as a local relation (projections over it are folded by
    * interpreted eval) and as an RDD scan (whole-stage codegen).
    */
  private def frames(strs: List[String]): Seq[DataFrame] = {
    val rows = strs.map(Row(_))
    val schema = StructType(Seq(StructField("s", StringType)))
    Seq(spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema),
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema))
  }

  /** Rows where `got` and `want` differ, rendered for the failure message. */
  private def mismatches(strs: List[String], got: Column, want: Column): Seq[String] =
    frames(strs).flatMap { df =>
      df.select(col("s"), got.as("got"), want.as("want"))
        .filter(!col("got").eqNullSafe(col("want")))
        .collect().map(r => s"${r.get(0)} -> ${r.get(1)} vs ${r.get(2)}").toSeq
    }

  private def holds(check: List[String] => Seq[String]): Unit = {
    val prop = Prop.forAllNoShrink(batch) { strs =>
      val bad = check(strs)
      Prop(bad.isEmpty) :| bad.take(5).mkString("; ")
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(8)
        .withInitialSeed(org.scalacheck.rng.Seed(20261018L)), prop)
    assert(res.passed, res.status)
  }

  private def withIcu[T](on: Boolean)(body: => T): T = {
    val key = SQLConf.ICU_CASE_MAPPINGS_ENABLED.key
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try body finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  for (icu <- Seq(true, false)) {
    test(s"ws_tokens equals split(lower(trim(s)), \\s+) with ICU case mappings $icu") {
      withIcu(icu) {
        holds(strs => mismatches(strs, expr("ws_tokens(s)"), regexTokens))
      }
    }
  }

  test("normalized equals the regex whitespace-collapse form") {
    holds(strs => mismatches(strs, TextFns.normalized(col("s")),
      regexp_replace(lower(trim(col("s"))), "\\s+", " ")))
  }

  test("ws_tokens keeps split's empty edge tokens and NULL") {
    import spark.implicits._
    val got = Seq("", " ", "\tA  b\u000B", "x").toDF("s")
      .select(expr("ws_tokens(s)")).collect().map(_.getSeq[String](0))
    assert(got.toSeq == Seq(Seq(""), Seq(""), Seq("", "a", "b", ""), Seq("x")))
    assert(spark.range(1).select(expr("ws_tokens(CAST(NULL AS STRING))"))
      .collect()(0).isNullAt(0))
  }

  test("ws_tokens stays inside whole-stage codegen") {
    val plan = graft.sources.Tables.documents(spark, sf001)
      .select(expr("ws_tokens(text)"))
      .queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators inside a WholeStageCodegen stage
    assert(plan.contains("*(1) Project [ws_tokens"), plan)
  }
}
