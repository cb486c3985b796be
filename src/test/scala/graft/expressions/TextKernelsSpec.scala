package graft.expressions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BinaryType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test}

import graft.SparkSpec
import graft.functions.TextFns

/** `count_in` and `symbol_count` against the Spark forms they replace,
  * on generated text: NULL, NULL array elements, "", whitespace-only,
  * non-ASCII and 4-byte characters, and invalid UTF-8. Rows are built
  * from bytes and cast to strings, so invalid UTF-8 reaches the kernels
  * as it would from a parquet binary column.
  */
class TextKernelsSpec extends SparkSpec {

  private def utf8(s: String): Seq[Byte] = s.getBytes("UTF-8").toSeq

  // valid pieces: stopwords, word bytes, every symbol class edge, spaces,
  // 2/3/4-byte characters
  private val validPieces: Seq[Seq[Byte]] = (TextFns.StopWords ++ Seq("The", "an",
    "x", "Z", "9", "0", " ", "  ", "\t", "\n", "@", "_", "-", "[", "`", "{", "~", "\u007F",
    "é", "ß", "Σ", "€", " ", "😀", "𝔸")).map(utf8)
  // invalid pieces: lone continuation bytes, truncated 2/3/4-byte
  // sequences, overlong and surrogate encodings, bytes no UTF-8 uses
  private val invalidPieces: Seq[Seq[Byte]] = Seq(Seq(0x80), Seq(0xBF), Seq(0xC3),
    Seq(0xE2, 0x82), Seq(0xF0, 0x9F, 0x98), Seq(0xC0, 0xAF), Seq(0xED, 0xA0, 0x80),
    Seq(0xF5), Seq(0xFF), Seq(0xF4, 0x90, 0x80, 0x80)).map(_.map(_.toByte))

  private val bytes: Gen[Array[Byte]] = Gen.frequency(
    1 -> Gen.const(Seq.empty[Byte]), 1 -> Gen.const(utf8(" \t ")),
    10 -> Gen.listOf(Gen.oneOf(validPieces)).map(_.flatten),
    4 -> Gen.listOf(Gen.frequency(4 -> Gen.oneOf(validPieces), 1 -> Gen.oneOf(invalidPieces)))
      .map(_.flatten)).map(_.toArray)
  private val nullable: Gen[Array[Byte]] = Gen.frequency(1 -> Gen.const(null), 12 -> bytes)
  private val texts: Gen[List[Array[Byte]]] = Gen.listOfN(400, nullable)
  private val tokenArrays: Gen[List[Seq[Array[Byte]]]] =
    Gen.listOfN(200, Gen.frequency(1 -> Gen.const(null), 12 -> Gen.listOf(nullable)))

  /** The rows as a local relation (interpreted eval) and as an RDD scan
    * (whole-stage codegen), with `s` cast from the raw bytes.
    */
  private def frames(rows: Seq[Row], field: StructField): Seq[DataFrame] = {
    val schema = StructType(Seq(field))
    Seq(spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema),
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema))
      .map(_.select(col("b").cast(field.dataType match {
        case ArrayType(_, _) => "array<string>"
        case _ => "string"
      }).as("s")))
  }

  private def mismatches(dfs: Seq[DataFrame], got: Column, want: Column): Seq[String] =
    dfs.flatMap { df =>
      df.select(col("s"), got.as("got"), want.as("want"))
        .filter(!col("got").eqNullSafe(col("want")))
        .collect().map(r => s"${r.get(0)} -> ${r.get(1)} vs ${r.get(2)}").toSeq
    }

  private def holds[T](gen: Gen[T])(check: T => Seq[String]): Unit = {
    val prop = Prop.forAllNoShrink(gen) { x =>
      val bad = check(x)
      Prop(bad.isEmpty) :| bad.take(5).mkString("; ")
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(6)
        .withInitialSeed(org.scalacheck.rng.Seed(20261018L)), prop)
    assert(res.passed, res.status)
  }

  test("count_in equals size(filter(toks, t -> t IN words))") {
    for (words <- Seq(TextFns.StopWords, Seq("é", "😀", ""), Seq("x")))
      holds(tokenArrays) { arrays =>
        val dfs = frames(arrays.map(a => Row(Option(a).map(_.toSeq).orNull)),
          StructField("b", ArrayType(BinaryType)))
        mismatches(dfs, TextFns.stopCount(col("s"), words),
          size(filter(col("s"), t => t.isin(words.map(w => lit(w): Any): _*))))
      }
  }

  test("symbol_count equals length(translate(s, [a-zA-Z0-9 ], ''))") {
    holds(texts) { strs =>
      val dfs = frames(strs.map(Row(_)), StructField("b", BinaryType))
      mismatches(dfs, expr("symbol_count(s)"),
        length(translate(col("s"), SymbolCount.WordChars, "")))
    }
  }

  test("invalid UTF-8 is counted as translate decodes it, not by lead-byte width") {
    // `length` steps over 0xE2 0x82 '-' as one 3-byte character (its lead
    // byte's width); translate decodes 0xE2 0x82 to one U+FFFD and keeps
    // the '-', a second symbol that lead-byte stepping would swallow
    val s = Array(0xE2, 0x82, '-', 'b').map(_.toByte)
    val r = spark.createDataFrame(java.util.Arrays.asList(Row(s)),
        StructType(Seq(StructField("b", BinaryType))))
      .select(col("b").cast("string").as("s"))
      .select(expr("symbol_count(s)"), length(col("s"))).head()
    assert((r.getInt(0), r.getInt(1)) == (2, 2))
  }

  test("both kernels stay inside whole-stage codegen") {
    val plan = graft.sources.Tables.documents(spark, sf001)
      .select(expr("symbol_count(text)"),
        TextFns.stopCount(call_function("ws_tokens", col("text"))))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [symbol_count"), plan)
    assert(plan.contains("count_in(ws_tokens"), plan)
  }
}
