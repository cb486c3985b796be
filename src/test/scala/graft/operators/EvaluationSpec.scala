package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Behavioral invariants for the evaluation-metric batch (AUC, NDCG,
  * chi-square, autocorrelation, PSI). The DuckDB oracle gate pins
  * value-level cross-engine correctness; these pin the mathematical
  * properties a refactor could silently break.
  */
class EvaluationSpec extends SparkSpec {

  test("auc matches the brute-force pairwise concordance probability") {
    val row = Evaluation.qAuc(spark, sf001).collect().head
    val auc = row.getAs[Double]("auc")
    assert(auc >= 0.0 && auc <= 1.0)
    // independent O(n²) definition on the small corpus: P(score⁺ > score⁻)
    // with ties counting half
    import graft.functions.TextFns
    val scored = graft.sources.Tables.documents(spark, sf001)
      .select(col("lang"), TextFns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(
        floor(lit(1000) * size(filter(col("toks"),
          t => t.isin(TextFns.StopWords.map(w => lit(w): Any): _*)))
          / size(col("toks"))).as("score"),
        (col("lang") === "en").as("pos"))
      .collect()
    val posScores = scored.filter(_.getAs[Boolean]("pos")).map(_.getAs[Long]("score"))
    val negScores = scored.filterNot(_.getAs[Boolean]("pos")).map(_.getAs[Long]("score"))
    assert(row.getAs[Long]("n_pos") == posScores.length)
    assert(row.getAs[Long]("n_neg") == negScores.length)
    var num = 0.0
    for (p <- posScores; n <- negScores)
      num += (if (p > n) 1.0 else if (p == n) 0.5 else 0.0)
    val brute = num / (posScores.length.toDouble * negScores.length)
    assert(math.abs(auc - brute) < 1e-6, s"rank-sum $auc vs pairwise $brute")
  }

  test("ndcg is in [0,1] for every query and covers the exact-path query set") {
    val rows = Evaluation.qNdcg(spark, sf001).collect()
    val nQueries = Similarity.qAnnTopk(spark, sf001)
      .select(col("query_id")).distinct().count()
    assert(rows.length == nQueries)
    rows.foreach { r =>
      val v = r.getAs[Double]("ndcg")
      assert(v >= 0.0 && v <= 1.0, s"ndcg out of range: $r")
      assert(r.getAs[Long]("n_ret") <= 3)
    }
  }

  test("chi-square is non-negative with the contingency dof and bounded Cramér's V") {
    val row = Evaluation.qChi2(spark, sf001).collect().head
    assert(row.getAs[Double]("chi2") >= 0.0)
    assert(row.getAs[Long]("dof") == 16L) // (5 segments - 1) x (5 priorities - 1)
    val v = row.getAs[Double]("cramers_v")
    assert(v >= 0.0 && v <= 1.0)
  }

  test("autocorrelation stays in [-1,1] and pair counts shrink with lag") {
    val rows = Temporal.qAutocorr(spark, sf001).collect()
    assert(rows.length == Temporal.AutocorrMaxLag)
    rows.foreach { r =>
      val a = r.getAs[Double]("autocorr")
      assert(a >= -1.0 - 1e-9 && a <= 1.0 + 1e-9, s"autocorr out of range: $r")
    }
    val byLag = rows.map(r => r.getAs[Int]("lag") -> r.getAs[Long]("n")).toMap
    assert(byLag(1) >= byLag(Temporal.AutocorrMaxLag))
  }

  test("embed drift is zero between identical snapshots and positive between parities") {
    val row = Similarity.qEmbedDrift(spark, sf001).collect().head
    assert(row.getAs[Long]("n_ref") + row.getAs[Long]("n_cur") ==
      graft.sources.Tables.embeddings(spark, sf001).count())
    assert(row.getAs[Double]("mmd_linear") >= 0.0)
    val cos = row.getAs[Double]("mean_cosine")
    assert(cos >= -1.0 - 1e-9 && cos <= 1.0 + 1e-9)
  }

  test("calibration bins partition the corpus and ECE is the weighted gap sum") {
    val rows = Evaluation.qCalibration(spark, sf001).collect()
    val nDocs = graft.sources.Tables.documents(spark, sf001)
      .filter(length(trim(col("text"))) > 0).count()
    assert(rows.map(_.getAs[Long]("n")).sum == nDocs)
    rows.foreach { r =>
      assert(r.getAs[Double]("mean_pred") >= 0.0 && r.getAs[Double]("mean_pred") <= 1.0)
      assert(r.getAs[Double]("obs_rate") >= 0.0 && r.getAs[Double]("obs_rate") <= 1.0)
    }
    val total = rows.head.getAs[Double]("ece_total")
    val fold = rows.map(_.getAs[Double]("ece_term")).sum
    assert(math.abs(total - fold) < 1e-4, s"ece $total vs term sum $fold")
    assert(rows.forall(r => math.abs(r.getAs[Double]("ece_total") - total) < 1e-12))
  }

  test("psi contributions are non-negative and smoothed shares are distributions") {
    val rows = Profiling.qPsi(spark, sf001).collect()
    assert(rows.length == Profiling.PsiBins)
    rows.foreach { r =>
      assert(r.getAs[Double]("psi_contrib") >= -1e-12, s"negative PSI term: $r")
    }
    // Laplace smoothing makes each side sum to exactly 1 over the domain
    assert(math.abs(rows.map(_.getAs[Double]("p_ref")).sum - 1.0) < 1e-4)
    assert(math.abs(rows.map(_.getAs[Double]("p_cur")).sum - 1.0) < 1e-4)
    val total = rows.head.getAs[Double]("psi_total")
    assert(rows.forall(r => math.abs(r.getAs[Double]("psi_total") - total) < 1e-12))
    assert(total >= 0.0)
  }

  test("a document of 2.2M stopwords scores 1000, not a 32-bit overflow") {
    import spark.implicits._
    import graft.functions.TextFns
    val dir = java.nio.file.Files.createTempDirectory("graft_eval_long").toString
    // 1000 * 2.2M stopwords is past Int.MaxValue: an ANSI int multiply throws
    Seq((1L, "a " * 2200000, "en"), (2L, "der hund", "de"))
      .map { case (id, t, lang) => (id, t, lang, s"src$id", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val docs = graft.sources.Tables.documents(spark, dir)
    val scores = docs.orderBy(col("doc_id"))
      .select(TextFns.stopScore(TextFns.tokens(col("text")), 1000))
      .collect().map(_.getLong(0))
    assert(scores.toSeq == Seq(1000L, 0L))
    assert(Evaluation.qAuc(spark, dir).head.getAs[Double]("auc") == 1.0)
  }

  test("cochran Q's word-length gate multiplies the token count in 64 bits") {
    import org.apache.spark.sql.catalyst.expressions.{Multiply, Size}
    import org.apache.spark.sql.types.LongType
    // a 32-bit size * 55 throws under ANSI past 2^31 / 55 ≈ 39M tokens,
    // a document of ~80 MB, so the analyzed plan is checked instead
    val products = TextAnalysis.qCochranQ(spark, sf001).queryExecution.analyzed
      .flatMap(_.expressions).flatMap(_.collect {
        case m: Multiply if m.exists(_.isInstanceOf[Size]) => m
      })
    assert(products.nonEmpty && products.forall(_.dataType == LongType), products)
  }
}
