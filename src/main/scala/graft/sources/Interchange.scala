package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** JSONL interchange — the lingua franca of training-data pipelines
  * (one JSON document per line, gzip-compressed shards). The engine's
  * canonical storage is parquet; JSONL is the import/export boundary to
  * tokenizers, labeling tools, and other teams' pipelines.
  */
object Interchange {

  /** Export as gzipped JSONL shards, optionally partitioned. Shard count
    * follows the upstream partitioning — at 100 TB repartition to the
    * shard size the consumer wants BEFORE calling this; gzip is
    * splittable-hostile, so shards should be O(100 MB), not O(10 GB).
    */
  def writeJsonl(df: DataFrame, outPath: String, partitionCols: Seq[String] = Nil): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("compression", "gzip")
      .partitionBy(partitionCols: _*)
      .json(outPath)

  /** Read JSONL with an EXPLICIT schema — schema inference on JSON is a
    * full extra pass over the data (a non-starter at 100 TB) and can
    * silently widen types between drops. Malformed lines land in
    * `_corrupt_record` (PERMISSIVE) instead of failing the scan; callers
    * filter or count them as an ingest-quality signal. (Spark refuses a
    * query whose referenced columns are ONLY the corrupt column —
    * cache() the frame or keep a data column in such audits.)
    */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema.add("_corrupt_record", "string"))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  /** Export as gzipped CSV shards (header on) — the boundary to
    * spreadsheet/BI consumers. Same sharding contract as
    * [[writeJsonl]]: repartition upstream to the shard size wanted.
    */
  def writeCsv(df: DataFrame, outPath: String): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("header", "true")
      .option("compression", "gzip")
      .csv(outPath)

  /** Read CSV with an EXPLICIT schema and quarantine semantics: rows
    * that fail type conversion or have the wrong arity land intact in
    * `_corrupt_record` instead of failing the 100 TB scan (same
    * PERMISSIVE contract and caveats as [[readJsonl]]).
    */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema.add("_corrupt_record", "string"))
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path)

  /** Split a PERMISSIVE-read frame into (clean, quarantined): clean rows
    * drop the corrupt column; quarantined rows carry the raw line for
    * repair/re-ingest. Both sides stay lazy scans — the split is two
    * filters over one cached read, not a second pass over the files.
    */
  def quarantine(df: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.col
    val cached = df.cache()
    (cached.filter(col("_corrupt_record").isNull).drop("_corrupt_record"),
      cached.filter(col("_corrupt_record").isNotNull))
  }
}
