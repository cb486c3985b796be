package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Curation
import graft.sources.Tables

class CorpusStreamSpec extends SparkSpec {

  test("streamed curation equals the batch quality filter") {
    val q = CorpusStream.curated(CorpusStream.streamDocumentsFrom(spark, sf001))
      .writeStream.format("memory").queryName("curated_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT doc_id, quality_score FROM curated_test ORDER BY doc_id").collect()
      val batch = Curation.qQualityScore(spark, sf001)
        .filter(col("keep"))
        .select(col("doc_id"), col("score"))
        .collect()
      assert(streamed.length == batch.length && streamed.nonEmpty)
      streamed.zip(batch).foreach { case (s, b) =>
        assert(s.getLong(0) == b.getLong(0))
        assert(math.abs(s.getDouble(1) - b.getDouble(1)) < 1e-9)
      }
    } finally q.stop()
  }

  test("streaming dedup keeps one arrival per fingerprint within the watermark") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_dedup").toString
    Seq(
      (1L, "same exact text content here", "en", "src0", 28L),
      (2L, "same exact text content here", "en", "src0", 28L), // dup of 1
      (3L, "a different document entirely", "en", "src1", 29L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // testdata ships documents.parquet as a single file; this temp write
    // makes it a directory, so stream its part files directly
    val raw = spark.read.parquet(s"$dir/documents.parquet")
    val stream = spark.readStream.schema(raw.schema)
      .parquet(s"$dir/documents.parquet")
      .withColumn("ingest_ts", timestamp_micros(col("doc_id") * 1000000L))
    val q = CorpusStream.dedupedStream(stream)
      .writeStream.format("memory").queryName("dedup_doc_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT doc_id, fingerprint FROM dedup_doc_test").collect()
      assert(rows.length == 2, s"expected dup suppressed, got ${rows.length} rows")
      assert(rows.map(_.getString(1)).distinct.length == 2)
    } finally q.stop()
  }

  test("streaming source-cap leaderboard converges to the batch q_source_caps") {
    val q = CorpusStream.sourceCapStream(
      CorpusStream.streamDocumentsFrom(spark, sf001))
      .writeStream.format("memory").queryName("cap_test")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      // single-file source → one batch → one emission per source
      val streamed = spark.sql("SELECT source, cap_rank, doc_id, score FROM cap_test")
        .collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      val batch = graft.operators.Curation.qSourceCaps(spark, sf001)
        .collect()
        .map(r => (r.getAs[String]("source"), r.getAs[Int]("cap_rank").toInt,
          r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSet
      assert(batch.nonEmpty)
      assert(streamed == batch,
        s"leaderboards must agree: stream-batch=${(streamed -- batch).take(5)} " +
          s"batch-stream=${(batch -- streamed).take(5)}")
    } finally q.stop()
  }

  test("curated stream is stateless: the plan carries no stateful operators") {
    val curatedDf = CorpusStream.curated(CorpusStream.streamDocumentsFrom(spark, sf001))
    val q = curatedDf.writeStream.format("memory").queryName("curated_plan_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val plan = q.lastProgress.toString
      assert(!plan.contains("stateOperators\" : [ {"),
        "quality curation must not register state stores")
      // the keep filter stays above the quality projection: pushed below
      // it, the filter would inline the derivation and tokenize each
      // document again
      val executed = q.asInstanceOf[
        org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      assert("ws_tokens\\(".r.findAllMatchIn(executed).size == 1, executed)
    } finally q.stop()
  }

  test("streaming band-index rows equal the batch LSH index") {
    // stamp at doc_id+1 seconds: an epoch-0 event time sits exactly ON
    // the initial watermark and dropDuplicatesWithinWatermark discards
    // it as late — a stamping artifact, not an index semantic
    val raw0 = spark.read.parquet(s"$sf001/documents.parquet")
    val stream = spark.readStream.schema(raw0.schema)
      .option("pathGlobFilter", "documents.parquet").parquet(sf001)
      .withColumn("ingest_ts",
        org.apache.spark.sql.functions.timestamp_micros(
          (org.apache.spark.sql.functions.col("doc_id") + 1) * 1000000L))
    val q = CorpusStream.bandIndexStream(stream)
      .writeStream.format("memory").queryName("bandidx_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT doc_id, band, bkey FROM bandidx_test ORDER BY doc_id, band")
        .collect()
      // Order-agnostic parity: dropDuplicatesWithinWatermark keeps the
      // first row ENCOUNTERED per fingerprint, which under different
      // parallelism / file splits need not be min(doc_id) — so do not
      // pin WHICH duplicate survives. Assert instead: (a) exactly one
      // survivor per exact-dedup fingerprint group, covering every
      // group; (b) each survivor's band rows equal the batch index rows
      // for that same doc_id (bkey is text-derived, so any group member
      // yields the same band set).
      import org.apache.spark.sql.functions.{col, md5}
      val docs = graft.sources.Tables.documents(spark, sf001)
      val fpOf = docs
        .select(col("doc_id"),
          md5(graft.functions.TextFns.normalized(col("text"))).as("fp"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val survivorIds = streamed.map(_.getLong(0)).distinct
      val byFp = survivorIds.groupBy(fpOf)
      assert(byFp.values.forall(_.length == 1),
        s"multiple survivors per fingerprint: ${byFp.filter(_._2.length > 1).take(3)}")
      assert(byFp.keySet == fpOf.values.toSet,
        s"uncovered fingerprints: ${(fpOf.values.toSet -- byFp.keySet).take(3)}")
      val batch = graft.operators.Dedup.bandIndexOf(
          docs.filter(col("doc_id").isInCollection(survivorIds)))
        .orderBy(col("doc_id"), col("band"))
        .collect()
      assert(streamed.length == batch.length && batch.length > 0)
      streamed.zip(batch).foreach { case (sw, b) => assert(sw == b, s"$sw != $b") }
    } finally q.stop()
  }
}
