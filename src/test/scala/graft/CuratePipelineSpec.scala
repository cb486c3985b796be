package graft

import org.apache.spark.sql.functions._

import graft.operators.Curation

class CuratePipelineSpec extends SparkSpec {

  test("the end-to-end curation run writes a consistent, split-partitioned corpus") {
    val out = java.nio.file.Files.createTempDirectory("graft_pipeline").toString
    val s = CuratePipeline.run(spark, sf001, out)
    assert(s.nInput == 500L)
    assert(s.nWritten > 0L && s.nWritten <= s.nInput)
    assert(s.bySplit.values.sum == s.nWritten)
    assert(s.bySplit.keySet.subsetOf(Set("train", "val", "test")))
    assert(s.bySplit("train") > s.bySplit.getOrElse("val", 0L))
    // the perplexity tail-drop removed roughly a third of the scorable docs
    assert(s.nTailDropped > 0L && s.nTailDropped < s.nInput / 2,
      s"tail drop out of range: ${s.nTailDropped}")
    assert(s.nSequences > 0L)

    val corpus = spark.read.parquet(s"$out/corpus").cache()
    // quality gate actually applied, splits stable under re-derivation
    assert(corpus.filter(col("n_tokens") < 1).count() == 0)
    val rederived = corpus.select(col("doc_id"), col("split"),
      Curation.splitCol.as("expected"))
    assert(rederived.filter(col("split") =!= col("expected")).count() == 0,
      "written split must equal the content-addressed assignment")
    // no email survives the scrub
    assert(corpus.filter(col("text").rlike("[a-z0-9._]+@[a-z0-9.]+")).count() == 0)

    // JSONL mirror carries the same rows
    val jsonl = sources.Interchange.readJsonl(spark, s"$out/jsonl",
      corpus.drop("split").schema).cache()
    assert(jsonl.filter(col("_corrupt_record").isNotNull).count() == 0)
    assert(jsonl.count() == s.nWritten)

    // partition layout: split directories on disk
    val dirs = new java.io.File(s"$out/corpus").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.exists(_.startsWith("split=")))

    // packing manifest: one row per written doc, tape offsets consistent
    val manifest = spark.read.parquet(s"$out/pack_manifest").cache()
    assert(manifest.count() == s.nWritten)
    val tape = manifest.orderBy(col("doc_id"))
      .select(col("start_off"), col("n_toks")).collect()
    tape.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getLong(0) == a.getLong(0) + a.getLong(1),
          "manifest tape offsets must be gapless in doc order")
      case _ =>
    }
  }

  test("an empty and a whitespace-only document are dropped, not a failed run") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_pipe_blank").toString
    val good = (1L to 6L).map(i => (i,
      s"the cat and the dog ran to the park $i and sat in the sun with a friend", "en"))
    val texts = good ++ Seq((7L, "", "en"), (8L, " \t\n ", "en"))
    texts.map { case (id, t, lang) => (id, t, lang, s"src$id", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = java.nio.file.Files.createTempDirectory("graft_pipe_blank_out").toString
    val s = CuratePipeline.run(spark, dir, out)
    assert(s.nInput == 8L && s.nWritten > 0L)
    val ids = spark.read.parquet(s"$out/corpus").select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(ids.nonEmpty && ids.subsetOf((1L to 6L).toSet), ids)
  }

  test("the pipeline handles an empty corpus without erroring") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_pipe_empty").toString
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = java.nio.file.Files.createTempDirectory("graft_pipe_empty_out").toString
    val s = CuratePipeline.run(spark, dir, out)
    assert(s.nInput == 0L && s.nWritten == 0L && s.bySplit.isEmpty)
  }
}
