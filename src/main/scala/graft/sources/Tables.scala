package graft.sources

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Typed loaders for the testdata star schema (see TESTDATA.md).
  *
  * All loaders are lazy parquet scans — column pruning and predicate
  * pushdown are left to Catalyst, so an operator that selects 2 columns
  * reads 2 columns. Each table's schema is resolved once per session
  * ([[read]]), not on every load.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // (session, table path) -> (table modification time, on-disk schema)
  private val schemaMemo =
    graft.SessionMemo.keyed[String, (Long, StructType)]("tables.schemaMemo")

  /** The parquet table at `path`, with its schema inferred once per
    * session and table version. Inference runs a footer-reading job,
    * which a warm session would otherwise re-pay on every load. The
    * session is in the key because its confs shape the schema
    * (`nanosAsLong` turns events.ts into a Long); the modification time
    * is checked on every read, so an overwritten table never keeps its
    * old schema (a store without directory modification times needs
    * [[graft.SessionMemo.evict]]). A missing path is not memoized: Spark
    * raises its usual error.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val version = Try(p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p).getModificationTime).toOption
    version.fold(spark.read.parquet(path)) { v =>
      schemaMemo.get((spark, path)) match {
        case Some((`v`, schema)) => spark.read.schema(schema).parquet(path)
        case _ =>
          val df = spark.read.parquet(path)
          // every loader passes through here: never pin a stopped session
          schemaMemo.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
          schemaMemo.put((spark, path), (v, df.schema))
          df
      }
    }
  }

  /** All loads normalize TIMESTAMP_NTZ columns to TimestampType: the
    * driver's parquet writes TIMESTAMP(isAdjustedToUTC=false) (since r4),
    * which Spark reads as NTZ and half the timestamp functions
    * (unix_micros, window, watermarks) reject. With the engine-wide UTC
    * session zone the cast is micros-preserving and matches DuckDB's
    * naive-as-UTC epoch_us.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val raw = read(spark, s"$dir/$name.parquet")
    raw.schema.fields.filter(_.dataType == TimestampNTZType).foldLeft(raw) {
      (df, f) => df.withColumn(f.name, col(f.name).cast(TimestampType))
    }
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** events.ts is TIMESTAMP(NANOS) in parquet, which Spark reads as a
    * nanosecond Long under `nanosAsLong`; normalize to a microsecond
    * TimestampType column (floor division — matches DuckDB's ns→µs
    * truncation) so downstream operators see a plain timestamp.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    // integer `div`, NOT `/`: Spark's `/` on longs is double division, and
    // epoch-nanos (~1.7e18) exceed a double's 2^53 integer range — the
    // rounding jitter shows up as ±1µs timestamp drift.
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw // NTZ already normalized by load
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
