package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.operators.{Curation, Packing, TextAnalysis}
import graft.sources.{CloudOptimize, Interchange, Tables}

/** The end-to-end curation run a user of this library actually executes:
  * raw documents → exact-dedup keepers → PII scrub → quality filter →
  * CCNet-style perplexity tail-drop (the corpus's own bigram LM scores
  * every survivor; the worst third is cut) → deterministic
  * train/val/test split → cloud-optimized parquet (+ JSONL for
  * downstream tokenizers, + the sequence-packing manifest a trainer
  * consumes). Every stage is one of the library's oracle-gated
  * primitives composed lazily — one fingerprint aggregation + semi-join,
  * one LM pass over the persisted curated frame, one collected cell
  * count for the tail threshold, scan-side everything else, then each
  * write's range repartition. The curated frame feeds the LM and three
  * sinks, so it is persisted once: the corpus is scanned and curated
  * once, everything downstream reads the cached partitions. Nothing is
  * collected but the tail's score cells; the returned counts are
  * `Dataset.observe` metrics of the frames the sinks write, so a run
  * starts no count or read-back job.
  */
object CuratePipeline {

  case class Summary(nInput: Long, nWritten: Long, bySplit: Map[String, Long],
      nTailDropped: Long, nSequences: Long)

  /** The dedup→scrub→quality→split stage as one lazy frame — extracted
    * so the sf1 harness ([[graft.dev.Sf1Pipeline]]) can PlanReport-audit
    * the exact plan [[run]] executes. `input`, when given, counts the
    * input documents on the fingerprint side, where no range exchange
    * re-runs it.
    */
  private[graft] def curatedFrame(spark: SparkSession, dir: String,
      input: Option[Observation] = None): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val fps = docs.select(md5(TextFns.normalized(col("text"))).as("fp"), col("doc_id"))
    // keep one document per normalized-text fingerprint (first writer wins)
    val keepers = input.fold(fps)(fps.observe(_, count(lit(1)).as("n")))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    Curation.scoreAndKeep(
      docs.join(keepers, Seq("doc_id"), "left_semi")
        .withColumn("text", Curation.scrubEmails(col("text"))))
      .withColumn("split", Curation.splitCol)
      .select(col("doc_id"), col("source"), col("lang"), col("text"),
        col("n_tokens"), round(col("score"), 4).as("quality_score"), col("split"))
  }

  def run(spark: SparkSession, dir: String, outDir: String): Summary = {
    val sc = spark.sparkContext
    val input = Observation("curate.input")
    val written = Observation("curate.written")
    val manifest = Observation("curate.manifest")
    val curated = curatedFrame(spark, dir, Some(input)).persist()
    try {
      // perplexity tail-drop: the LM is built on the CURATED corpus
      // (post-dedup — duplicate mass would otherwise dominate the
      // model), scores read the persisted frame, and only doc_ids
      // travel through the anti-join. Unscorable docs (< 2 tokens)
      // have no perplexity and are kept.
      val scored = stage(sc, "curate and score")(TextAnalysis.bigramScores(curated)
        .localCheckpoint()) // tail cells + tail filter both read it
      // the tail is a suffix of the cells ranked by avg_logp, so it is
      // exactly avg_logp <= the best tail cell's score
      val tail = stage(sc, "tail cells")(TextAnalysis.pplCells(scored))
        .filter(c => c.bucket == "tail" && c.avgLogp.isDefined)
      val cut = tail.flatMap(_.avgLogp).maxOption.fold(lit(false))(col("avg_logp") <= _)
      val kept = curated
        .join(scored.filter(cut).select(col("doc_id")), Seq("doc_id"), "left_anti")
        .persist()
      try {
        stage(sc, "corpus sink")(CloudOptimize.write(kept, s"$outDir/corpus",
          partitionCols = Seq("split"), sortCols = Seq("doc_id")))
        // counted on the JSONL sink, which writes the same rows with no
        // exchange: the corpus write's range sampler re-runs its input,
        // so a count there would count twice
        val bySplitCounts = Curation.Splits.map(s => count_if(col("split") === s).as(s))
        stage(sc, "jsonl sink")(Interchange.writeJsonl(
          kept.observe(written, bySplitCounts.head, bySplitCounts.tail: _*),
          s"$outDir/jsonl", partitionCols = Seq("split")))
        // the trainer-facing packing manifest over the kept corpus; a max
        // is safe under the range sampler's second pass
        stage(sc, "manifest sink")(CloudOptimize.write(
          Packing.packOffsets(kept.select(col("doc_id"),
            col("n_tokens").cast("long").as("n_toks")))
            .observe(manifest, max(col("last_seq")).as("last_seq")),
          s"$outDir/pack_manifest", partitionCols = Seq(), sortCols = Seq("doc_id")))
      } finally kept.unpersist()
      val bySplit = written.get.collect { case (s, n: Long) if n > 0 => s -> n }
      val nWritten = bySplit.values.sum
      // a written document proves the input count's node ran in the sink
      // plans; with none, AQE may prune the curated plan to an empty
      // relation, and the observation then arrives empty (an empty
      // corpus) or not at all
      val nInput =
        if (nWritten > 0) input.get("n").asInstanceOf[Long]
        else stage(sc, "input count")(Tables.documents(spark, dir).count())
      val nSeqs = Option(manifest.get("last_seq")).fold(0L)(_.asInstanceOf[Long] + 1)
      Summary(nInput, nWritten, bySplit, tail.map(_.n).sum, nSeqs)
    } finally curated.unpersist()
  }

  /** Runs `f` with `name at CuratePipeline.scala:<caller's line>` as the
    * call site of every Spark job it starts, AQE stage jobs included
    * (they otherwise carry a thread-pool frame), then restores the
    * caller's call site.
    */
  private def stage[T](sc: SparkContext, name: String)(f: => T): T = {
    val key = "callSite.short"
    val saved = sc.getLocalProperty(key)
    sc.setCallSite(s"$name at CuratePipeline.scala:${new Throwable().getStackTrace()(1).getLineNumber}")
    try f finally sc.setLocalProperty(key, saved)
  }
}
