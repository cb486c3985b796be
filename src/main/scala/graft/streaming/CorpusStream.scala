package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.operators.Curation
import graft.sources.Tables

/** Streaming corpus curation — the continuous-ingest mirror of the batch
  * [[graft.operators.Curation]] path. A training corpus at 100 TB is not
  * re-scored from scratch per crawl drop: new documents arrive as a
  * stream, get quality-scored scan-side in the micro-batch (the same
  * Column expressions as the batch query — parity by construction), and
  * exact duplicates are suppressed with watermark-bounded state.
  */
object CorpusStream {

  /** Quality-curate a streaming documents frame: score with the shared
    * classifier projection and keep only passing rows. Stateless — every
    * micro-batch is one codegen'd map, so this scales with input rate,
    * not corpus size.
    */
  def curated(docs: DataFrame): DataFrame =
    Curation.withQuality(docs)
      .filter(col("keep"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        round(col("score"), 4).as("quality_score"))

  /** Watermarked streaming exact-dedup: fingerprint on the normalized
    * text, keep the first arrival, evict fingerprint state once the
    * watermark passes — state is bounded by the duplicate-arrival
    * horizon (same contract as EventPipeline.dedupedStream), never the
    * stream length.
    */
  def dedupedStream(docs: DataFrame, horizon: String = "1 hour"): DataFrame =
    docs
      .withColumn("fingerprint", md5(TextFns.normalized(col("text"))))
      .withWatermark("ingest_ts", horizon)
      .dropDuplicatesWithinWatermark("fingerprint")

  case class ScoredDoc(doc_id: Long, source: String, z: Double, score: Double)
  case class CapState(best: List[(Double, Long, Double)]) // (z desc, doc_id asc, score)
  case class CapRow(doc_id: Long, source: String, cap_rank: Int, score: Double)

  /** Streaming per-source quality leaderboard — the unbounded mirror of
    * the batch `q_source_caps`: maintain each source's current best
    * [[graft.operators.Curation.SourceCap]] documents by quality score
    * as the stream arrives. flatMapGroupsWithState keeps ONE bounded
    * list (≤ cap entries of (z, doc_id, score)) per source — O(cap)
    * state per key forever, no watermark needed — and re-emits the
    * source's full current leaderboard each batch (Update semantics:
    * downstream upserts by (source, cap_rank)). Ordering is the batch
    * window's exact key — (round(z,6) desc, doc_id asc) — and insertion
    * is order-independent ACROSS batches (a set's top-k doesn't depend
    * on arrival order), so a full replay converges to the batch answer
    * bit-for-bit. The quality columns come from the SAME shared
    * [[Curation.withQuality]] projection as the batch query — parity by
    * construction, the CorpusStream contract.
    */
  def sourceCapStream(docs: DataFrame): org.apache.spark.sql.Dataset[CapRow] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val cap = Curation.SourceCap
    Curation.withQuality(docs)
      .select(col("doc_id"), col("source"),
        round(col("z"), 6).as("z"), round(col("score"), 4).as("score"))
      .as[ScoredDoc]
      .groupByKey(_.source)
      .flatMapGroupsWithState[CapState, CapRow](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (src, ds, state: GroupState[CapState]) =>
          val merged = (state.getOption.map(_.best).getOrElse(Nil) ++
            ds.map(d => (d.z, d.doc_id, d.score)))
            .distinct
            .sortBy { case (z, id, _) => (-z, id) }
            .take(cap)
          state.update(CapState(merged))
          merged.iterator.zipWithIndex.map { case ((_, id, sc), idx) =>
            CapRow(id, src, idx + 1, sc)
          }
      }
  }

  /** Streaming LSH band-index maintenance: every arriving document
    * (exact-deduped within the watermark first, so re-crawls don't
    * duplicate index rows) emits its (doc_id, band, bkey) rows for
    * APPEND into the persisted near-dup band index — the continuous
    * form of the index [[graft.operators.Dedup.qIncrementalMinhash]]
    * probes for admission. The signature math is the SAME
    * minhash_sigs expression as the batch index (parity by
    * construction); the only state is the dedup fingerprint horizon.
    */
  def bandIndexStream(docs: DataFrame, horizon: String = "1 hour"): DataFrame =
    graft.operators.Dedup.bandIndexOf(dedupedStream(docs, horizon))

  /** Batch-equivalent entry used by tests: stream the documents parquet
    * through a file source, stamping a deterministic per-document ingest
    * time (content-addressed, like everything in Curation) so watermark
    * semantics are reproducible.
    */
  def streamDocumentsFrom(spark: SparkSession, dir: String): DataFrame = {
    spark.readStream.schema(Tables.read(spark, s"$dir/documents.parquet").schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
      .withColumn("ingest_ts", timestamp_micros(col("doc_id") * 1000000L))
  }
}
