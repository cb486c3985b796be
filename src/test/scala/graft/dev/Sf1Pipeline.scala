package graft.dev

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end CuratePipeline at sf1 (r9 verdict ask #5): the path a
  * training-data team actually executes, run against the GenSf sf1
  * corpus with recorded wall time, a PlanReport audit of the curation
  * plan, and DISTRIBUTED output-manifest validation (the toy spec
  * collects the tape; here every invariant is a count of violations —
  * the same checks survive 100 TB).
  *
  * Usage: sbt "Test/runMain graft.dev.Sf1Pipeline [sfDir] [outDir]"
  * (defaults: /tmp/graft_sf1 → /tmp/graft_sf1_pipeline). Results are
  * recorded in dev/SF1_PIPELINE.md.
  */
object Sf1Pipeline {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_sf1")
    val out = args.lift(1).getOrElse("/tmp/graft_sf1_pipeline")
    val spark = graft.GraftSession.local()

    // plan audit BEFORE the run: the curation stage must be the shape
    // run() executes — no cartesian, no unpartitioned window, pruned
    // scans (the quality/split/scrub columns are scan-side)
    val report = graft.plans.PlanReport.of(
      graft.CuratePipeline.curatedFrame(spark, dir))
    println(s"[sf1-pipeline] curation plan: ${report.summary}")
    require(report.cartesianProducts == 0, "curation plans a cartesian")
    require(report.unpartitionedWindows == 0,
      "curation funnels an unpartitioned window")

    val t0 = System.nanoTime()
    val s = graft.CuratePipeline.run(spark, dir, out)
    val wallS = (System.nanoTime() - t0) / 1e9
    println(f"[sf1-pipeline] wall ${wallS}%.1f s; " +
      s"in=${s.nInput} written=${s.nWritten} tailDropped=${s.nTailDropped} " +
      s"seqs=${s.nSequences} bySplit=${s.bySplit}")

    // ---- invariants, all as distributed violation counts ----
    def bad(name: String, n: Long): Unit = {
      println(s"[sf1-pipeline] $name violations: $n")
      require(n == 0L, s"$name: $n violations")
    }
    require(s.nWritten > 0 && s.nWritten <= s.nInput
      && s.bySplit.values.sum == s.nWritten, "summary inconsistent")
    val corpus = spark.read.parquet(s"$out/corpus").persist()
    require(corpus.count() == s.nWritten, "corpus rowcount != summary")
    bad("quality-gate", corpus.filter(col("n_tokens") < 1).count())
    bad("split-stability", corpus
      .withColumn("expected", graft.operators.Curation.splitCol)
      .filter(col("split") =!= col("expected")).count())
    bad("email-scrub",
      corpus.filter(col("text").rlike("[a-z0-9._]+@[a-z0-9.]+")).count())
    // cache required: Spark disallows filtering ONLY _corrupt_record on
    // a raw JSON scan (same as the toy spec)
    val jsonl = graft.sources.Interchange.readJsonl(spark, s"$out/jsonl",
      corpus.drop("split").schema).cache()
    bad("jsonl-corrupt", jsonl.filter(col("_corrupt_record").isNotNull).count())
    require(jsonl.count() == s.nWritten, "jsonl rowcount != corpus")
    // packing-manifest tape: gapless offsets in doc order, checked with
    // a window over the manifest (not a driver collect)
    val manifest = spark.read.parquet(s"$out/pack_manifest")
    require(manifest.count() == s.nWritten, "manifest rowcount != corpus")
    val w = Window.orderBy(col("doc_id"))
    bad("tape-gaps", manifest
      .withColumn("prev_end", lag(col("start_off") + col("n_toks"), 1).over(w))
      .filter(col("prev_end").isNotNull && col("prev_end") =!= col("start_off"))
      .count())
    corpus.unpersist()
    println(f"[sf1-pipeline] ALL INVARIANTS GREEN at $dir (wall ${wallS}%.1f s)")
    spark.stop()
  }
}
