package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.TextFns

class CurationSpec extends SparkSpec {

  test("stratified sample is deterministic and rate-obeying per source parity") {
    val a = Curation.qStratifiedSample(spark, sf001).collect()
    val b = Curation.qStratifiedSample(spark, sf001).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq, "sample not reproducible")
    a.foreach { r =>
      val even = r.getAs[String]("source").drop(3).toInt % 2 == 0
      val u = r.getAs[Long]("u")
      assert(u < (if (even) 2000 else 500), s"drawn row violates its keep rate: $r")
    }
  }

  test("train/val/test split covers every document exactly once") {
    val rows = Curation.qTrainTestSplit(spark, sf001).collect()
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    assert(total == graft.sources.Tables.documents(spark, sf001).count())
    val bySplit = rows.groupBy(_.getAs[String]("split"))
      .view.mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    assert(bySplit("train") > bySplit("val") && bySplit("train") > bySplit("test"))
  }

  test("normalization fingerprint is invariant to case and extra whitespace") {
    import spark.implicits._
    val df = Seq((1L, "Hello,  World!"), (2L, "hello world"), (3L, "HELLO WORLD "))
      .toDF("doc_id", "text")
    val n1 = lower(trim(col("text")))
    val n2 = trim(regexp_replace(regexp_replace(n1, "[^a-z0-9 ]", ""), " +", " "))
    val fps = df.select(md5(n2)).collect().map(_.getString(0))
    assert(fps.distinct.length == 1, "all three forms must normalize identically")
  }

  test("redaction scrubs every synthesized email and flags exactly those docs") {
    val rows = Curation.qTextRedact(spark, sf001).collect()
    rows.foreach { r =>
      val expected = r.getAs[Long]("doc_id") % 3 == 0
      assert(r.getAs[Boolean]("was_redacted") == expected, s"flag mismatch: $r")
    }
  }

  test("gopher keep flag is the conjunction of its rule columns") {
    val rows = Curation.qGopherQuality(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val expect = r.getAs[Int]("n_tokens") >= 5 && r.getAs[Int]("n_tokens") <= 1000 &&
        r.getAs[Double]("mean_word_len") >= 2.0 && r.getAs[Double]("mean_word_len") <= 10.0 &&
        r.getAs[Double]("symbol_ratio") <= 0.1 && r.getAs[Int]("n_stop") >= 1
      assert(r.getAs[Boolean]("keep") == expect, s"keep flag inconsistent: $r")
    }
  }

  /** A documents table of an empty document (doc 1) and one plain
    * document that passes every Gopher rule and the quality gate (doc 2).
    */
  private def emptyAndPlainDocs(): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_empty_doc").toString
    val text = "the cat sat on a mat today"
    Seq((1L, "", "en", "src0", 0L), (2L, text, "en", "src0", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("gopher quality gives an empty document no symbol ratio and no keep") {
    val rows = Curation.qGopherQuality(spark, emptyAndPlainDocs()).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows.keySet == Set(1L, 2L))
    assert(rows(1L).isNullAt(rows(1L).fieldIndex("symbol_ratio")), s"empty doc: ${rows(1L)}")
    assert(!rows(1L).getAs[Boolean]("keep"), s"empty doc kept: ${rows(1L)}")
    assert(rows(2L).getAs[Double]("symbol_ratio") == 0.0 && rows(2L).getAs[Boolean]("keep"),
      s"plain doc: ${rows(2L)}")
  }

  test("filter funnel drops an empty document at the length stage") {
    val survivors = Curation.qFilterFunnel(spark, emptyAndPlainDocs()).collect()
      .map(r => r.getAs[String]("stage") -> r.getAs[Long]("survivors")).toSeq
    assert(survivors == Seq("input" -> 2L, "dedup" -> 2L, "length" -> 1L,
      "word_shape" -> 1L, "symbol" -> 1L, "stopword" -> 1L, "quality" -> 1L))
  }

  test("n-gram repetition ratio is a proper fraction of repeated trigrams") {
    val rows = Curation.qNgramRepetition(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Int]("n_distinct") <= r.getAs[Int]("n_trigrams"))
      val ratio = r.getAs[Double]("rep_ratio")
      assert(ratio >= 0.0 && ratio < 1.0, s"rep_ratio out of range: $r")
    }
  }

  test("token budget marks a contiguous longest-first prefix per source") {
    val rows = Curation.qTokenBudget(spark, sf001).collect()
    rows.groupBy(_.getAs[String]("source")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(r => (r.getAs[Long]("cum_tokens"), r.getAs[Long]("doc_id")))
      var running = 0L
      var inPrefix = true
      sorted.foreach { r =>
        running += r.getAs[Long]("n_tok")
        assert(r.getAs[Long]("cum_tokens") == running, "cumulative sum broken")
        val in = r.getAs[Boolean]("in_budget")
        if (!in) inPrefix = false
        assert(in == (running <= Curation.TokenBudget) && (in || !inPrefix == true),
          s"budget flag wrong: $r")
      }
    }
  }

  test("soft-dedup weights sum to the number of clusters") {
    val rows = Dedup.qSoftDedup(spark, sf001).collect()
    val total = rows.map(_.getAs[Double]("weight")).sum
    val nClusters = rows.map(_.getAs[Long]("cluster")).distinct.length
    assert(math.abs(total - nClusters) < 1e-3,
      s"weights should sum to one per cluster: $total vs $nClusters")
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("weight") * r.getAs[Long]("n_cluster") - 1.0) < 1e-4)
    }
  }

  test("centroids average the right number of vectors per dimension") {
    val rows = Similarity.qEmbedCentroids(spark, sf001).collect()
    val byLabel = rows.groupBy(_.getAs[Int]("label"))
    byLabel.foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Int]("pos")).sorted.toSeq == (1 to 64),
        "each label must emit all 64 dimension rows")
      assert(rs.map(_.getAs[Long]("n_vecs")).distinct.length == 1,
        "every dimension of a label averages the same vector count")
      rs.foreach(r => assert(math.abs(r.getAs[Double]("cx")) <= 1.0))
    }
    val total = byLabel.map { case (_, rs) => rs.head.getAs[Long]("n_vecs") }.sum
    assert(total == graft.sources.Tables.embeddings(spark, sf001).count())
  }

  test("domain mix shares sum to 1 and the concentration curve is monotone") {
    val rows = Curation.qDomainMix(spark, sf001).collect()
    val shareSum = rows.map(_.getAs[Double]("tok_share")).sum
    assert(math.abs(shareSum - 1.0) < 1e-3, s"shares must total 1: $shareSum")
    val cums = rows.map(_.getAs[Double]("cum_share"))
    assert(cums.zip(cums.tail).forall { case (a, b) => b >= a }, "cum_share not monotone")
    assert(math.abs(cums.last - 1.0) < 1e-3)
  }

  test("length outliers flag exactly the beyond-3-MAD documents") {
    val rows = Curation.qLengthOutliers(spark, sf001).collect()
    rows.foreach { r =>
      val dev = math.abs(r.getAs[Long]("n_chars") - r.getAs[Double]("med"))
      assert(r.getAs[Boolean]("is_outlier") == (dev > 3.0 * r.getAs[Double]("mad")), s"$r")
    }
    // sanity: the robust stats must not flag the bulk of any source
    val frac = rows.count(_.getAs[Boolean]("is_outlier")).toDouble / rows.length
    assert(frac < 0.25, s"MAD rule flagged $frac of the corpus")
  }

  test("quality score is a proper sigmoid of its linear score") {
    val rows = Curation.qQualityScore(spark, sf001).collect()
    rows.foreach { r =>
      val score = r.getAs[Double]("score")
      assert(score > 0.0 && score < 1.0)
      assert(r.getAs[Boolean]("keep") == score > 0.5 ||
        math.abs(score - 0.5) < 1e-3, s"keep must track sigmoid(z)>0.5: $r")
    }
  }

  test("decontamination returns exactly the split-straddling near-dup edges") {
    val rows = Curation.qDecontaminate(spark, sf001).collect()
    // recompute each doc's split with the same content-addressed draw
    val splits = graft.sources.Tables.documents(spark, sf001)
      .select(col("doc_id"),
        (graft.functions.TextFns.hash28(
          concat(lit("split:"), col("doc_id").cast("string"))) % 100).as("u"))
      .collect().map(r => r.getLong(0) ->
        (if (r.getLong(1) < 80) "train" else if (r.getLong(1) < 90) "val" else "test"))
      .toMap
    rows.foreach { r =>
      assert(splits(r.getAs[Long]("train_doc")) == "train")
      assert(splits(r.getAs[Long]("eval_doc")) == r.getAs[String]("eval_split"))
      assert(r.getAs[String]("eval_split") != "train")
      assert(r.getAs[Double]("jaccard") >= Dedup.JaccardThreshold)
    }
    // completeness: every near-dup edge with a train side and a non-train
    // side must be reported
    val expected = Dedup.qDedupNgramJaccard(spark, sf001).collect().flatMap { r =>
      val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      Seq((a, b), (b, a)).collect {
        case (t, e) if splits(t) == "train" && splits(e) != "train" => (e, t)
      }
    }.toSet
    assert(rows.map(r => (r.getAs[Long]("eval_doc"), r.getAs[Long]("train_doc"))).toSet
      == expected)
  }

  test("curation and dedup operators survive an empty corpus") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_empty").toString
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val ops: Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame)] = Seq(
      "stratified_sample" -> (Curation.qStratifiedSample _),
      "train_test_split" -> (Curation.qTrainTestSplit _),
      "domain_mix" -> (Curation.qDomainMix _),
      "length_outliers" -> (Curation.qLengthOutliers _),
      "quality_score" -> (Curation.qQualityScore _),
      "token_budget" -> (Curation.qTokenBudget _),
      "decontaminate" -> (Curation.qDecontaminate _),
      "gopher_quality" -> (Curation.qGopherQuality _),
      "ngram_repetition" -> (Curation.qNgramRepetition _),
      "bigram_lm" -> (TextAnalysis.qBigramLm _),
      "containment" -> (Dedup.qMinhashContainment _),
      "incremental_dedup" -> (Dedup.qIncrementalDedup _),
      "soft_dedup" -> (Dedup.qSoftDedup _))
    ops.foreach { case (name, fn) =>
      val n = try fn(spark, dir).count()
      catch { case e: Throwable => fail(s"$name threw on empty corpus: $e") }
      assert(n == 0L, s"$name returned $n rows from an empty corpus")
    }
  }

  test("single-token documents fall out of the n-gram family, not into errors") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tiny").toString
    Seq((1L, "word", "en", "src0", 4L), (2L, "two words", "en", "src0", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // trigram shingles need >=3 tokens: nothing qualifies, nothing throws
    assert(Dedup.qMinhashContainment(spark, dir).count() == 0L)
    assert(Curation.qNgramRepetition(spark, dir).count() == 0L)
    // bigrams need >=2 tokens: only doc 2 scores
    val lm = TextAnalysis.qBigramLm(spark, dir).collect()
    assert(lm.map(_.getAs[Long]("doc_id")).toSeq == Seq(2L))
  }

  test("containment respects its floor on the real corpus") {
    Dedup.qMinhashContainment(spark, sf001).collect().foreach { r =>
      val c = r.getAs[Double]("containment")
      assert(c >= Dedup.ContainmentThreshold && c <= 1.0, s"containment bound: $r")
    }
  }

  test("containment recall is exact for a planted subset document") {
    import spark.implicits._
    // doc 2 is a strict prefix of doc 1: shingles(2) ⊆ shingles(1), so
    // min(shingles(2)) is in doc 1's index and the 2→1 pair MUST surface
    // with containment 1.0; doc 3 shares nothing.
    val long = (1 to 40).map(i => s"w$i").mkString(" ")
    val sub = (1 to 20).map(i => s"w$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft_contain").toString
    Seq((1L, long, "en", "src0", long.length.toLong),
        (2L, sub, "en", "src0", sub.length.toLong),
        (3L, "alpha beta gamma delta epsilon", "en", "src1", 30L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Dedup.qMinhashContainment(spark, dir).collect()
    val m = rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
      r.getAs[Double]("containment")).toMap
    assert(m.get((2L, 1L)).contains(1.0), s"planted subset not recovered: ${m.keySet}")
    assert(!m.keySet.exists { case (a, b) => a == 3L || b == 3L },
      "disjoint doc must not pair")
  }
}
