package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.operators.{Curation, Packing}
import graft.sources.Tables

class CuratePipelineSpec extends SparkSpec {

  /** Every Summary field against a plain-Spark recount of what the run
    * wrote (corpus, manifest) and of the curated frame it cut the tail
    * from. Schemas are explicit: an empty sink writes no data file.
    */
  private def assertRecounted(dir: String, out: String, s: CuratePipeline.Summary): Unit = {
    val curated = CuratePipeline.curatedFrame(spark, dir)
    val corpus = spark.read.schema(curated.schema).parquet(s"$out/corpus")
    val bySplit = corpus.groupBy(col("split")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val manifestSchema = Packing.packOffsets(
      curated.select(col("doc_id"), col("n_tokens").cast("long").as("n_toks"))).schema
    val nSeqs = spark.read.schema(manifestSchema).parquet(s"$out/pack_manifest")
      .agg(coalesce(max(col("last_seq")) + 1, lit(0L))).head().getLong(0)
    val nWritten = corpus.count()
    assert(s == CuratePipeline.Summary(Tables.documents(spark, dir).count(), nWritten,
      bySplit, curated.count() - nWritten, nSeqs))
  }

  /** Writes `texts` as a documents table and returns its directory. */
  private def corpusOf(texts: Seq[String]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_pipe_in").toString
    texts.zipWithIndex.map { case (t, i) => (i + 1L, t, "en", s"src$i", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def outDir(): String =
    java.nio.file.Files.createTempDirectory("graft_pipe_out").toString

  test("the end-to-end curation run writes a consistent, split-partitioned corpus") {
    val out = outDir()
    val s = CuratePipeline.run(spark, sf001, out)
    assertRecounted(sf001, out, s)
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
    val good = (1 to 6).map(i =>
      s"the cat and the dog ran to the park $i and sat in the sun with a friend")
    val dir = corpusOf(good ++ Seq("", " \t\n "))
    val out = outDir()
    val s = CuratePipeline.run(spark, dir, out)
    assertRecounted(dir, out, s)
    assert(s.nInput == 8L && s.nWritten > 0L)
    val ids = spark.read.parquet(s"$out/corpus").select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(ids.nonEmpty && ids.subsetOf((1L to 6L).toSet), ids)
  }

  test("the pipeline handles an empty corpus without erroring") {
    val dir = corpusOf(Seq.empty)
    val out = outDir()
    val s = CuratePipeline.run(spark, dir, out)
    assertRecounted(dir, out, s)
    assert(s.nInput == 0L && s.nWritten == 0L && s.bySplit.isEmpty)
  }

  test("a corpus with no keepable document still counts its input") {
    val dir = corpusOf(Seq("", " \t\n ", ""))
    val out = outDir()
    val s = CuratePipeline.run(spark, dir, out)
    assertRecounted(dir, out, s)
    assert(s == CuratePipeline.Summary(3L, 0L, Map.empty, 0L, 0L))
  }

  test("a run starts a bounded number of jobs, each named for its pipeline stage") {
    val sc = spark.sparkContext
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        sites.add(String.valueOf(e.properties.getProperty("callSite.short")))
    }
    sc.setCallSite("the caller's site")
    sc.addSparkListener(l)
    try {
      CuratePipeline.run(spark, sf001, outDir())
      ListenerBusDrain(sc)
      assert(sc.getLocalProperty("callSite.short") == "the caller's site")
    } finally {
      sc.removeSparkListener(l)
      sc.clearCallSite()
    }
    import scala.jdk.CollectionConverters._
    val jobs = sites.asScala.toSeq
    // 27 at sf0.001; 43 when the Summary came from count and read-back
    // jobs and the tail cut from a window/crossJoin chain
    assert(jobs.size <= 30, jobs.groupBy(identity).map { case (k, v) => s"$k: ${v.size}" })
    assert(jobs.forall(_.matches(".+ at CuratePipeline\\.scala:\\d+")), jobs.distinct)
  }
}
