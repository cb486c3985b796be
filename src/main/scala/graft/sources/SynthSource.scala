package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 deterministic synthetic-fact generator — the "make
  * 100 TB of benchmark data without storing 100 TB" source:
  *
  * {{{
  *   spark.read.format("graft-synth")
  *     .option("rows", 1000000).option("parts", 32).option("seed", 7)
  *     .load()                        // (id, user, amount, category)
  * }}}
  *
  * Engine integration is the point: the source implements the V2 read
  * contract (TableProvider → ScanBuilder → Batch → PartitionReader), so
  * Spark plans it like any table — one InputPartition per `parts` slice
  * (parallel generation, no driver materialization), and
  * SupportsPushDownRequiredColumns means `select(count)` or a 2-column
  * projection generates ONLY those columns (visible as a narrowed
  * ReadSchema in explain, same as parquet pruning).
  *
  * Rows are pure functions of (seed, id) via a splitmix64 mix, so any
  * slice regenerates bit-identically on any executor, any retry — the
  * generator is effectively a free, infinitely-replicated table.
  */
class SynthSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-synth"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SynthSource.Schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new SynthTable(new CaseInsensitiveStringMap(properties))
}

object SynthSource {
  val Schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("user", LongType, nullable = false),
    StructField("amount", DoubleType, nullable = false),
    StructField("category", StringType, nullable = false)))

  val Categories: Array[String] =
    Array("alpha", "beta", "gamma", "delta", "epsilon")

  /** splitmix64 finalizer — the standard 64-bit avalanche mix. Pure
    * integer arithmetic, no library hash whose seed could differ between
    * runs; the streaming HLL takes its index and rank bits from it too.
    */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def userOf(seed: Long, id: Long): Long = Math.floorMod(mix(seed ^ id), 10000L)

  /** amount in [0, 1000) with 2 decimals — exact in double. */
  def amountOf(seed: Long, id: Long): Double =
    Math.floorMod(mix(seed ^ (id + 1)), 100000L) / 100.0

  def categoryOf(seed: Long, id: Long): String =
    Categories(Math.floorMod(mix(seed ^ (id + 2)), Categories.length.toLong).toInt)
}

private class SynthTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = "graft_synth"
  override def schema(): StructType = SynthSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = new java.util.HashMap[String, String](options)
    merged.putAll(opts)
    new SynthScanBuilder(new CaseInsensitiveStringMap(merged))
  }
}

private class SynthScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = SynthSource.Schema

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new SynthScan(
    options.getLong("rows", 1000L),
    options.getInt("parts", 4),
    options.getLong("seed", 42L),
    required)
}

private class SynthScan(rows: Long, parts: Int, seed: Long, required: StructType)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val per = (rows + parts - 1) / parts
    (0 until parts).map { p =>
      val lo = p * per
      val hi = math.min(rows, lo + per)
      SynthSlice(lo, hi, seed): InputPartition
    }.filter { case SynthSlice(lo, hi, _) => lo < hi }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SynthReaderFactory(required)
}

private case class SynthSlice(lo: Long, hi: Long, seed: Long) extends InputPartition

private class SynthReaderFactory(required: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val s = partition.asInstanceOf[SynthSlice]
    // resolve each required column to its generator ONCE per partition
    val gens: Array[Long => Any] = required.fields.map(_.name match {
      case "id" => (id: Long) => id
      case "user" => (id: Long) => SynthSource.userOf(s.seed, id)
      case "amount" => (id: Long) => SynthSource.amountOf(s.seed, id)
      case "category" =>
        (id: Long) => UTF8String.fromString(SynthSource.categoryOf(s.seed, id))
      case other => throw new IllegalArgumentException(s"unknown column $other")
    })
    new PartitionReader[InternalRow] {
      private var cur = s.lo - 1
      override def next(): Boolean = { cur += 1; cur < s.hi }
      override def get(): InternalRow =
        InternalRow.fromSeq(gens.map(g => g(cur)).toIndexedSeq)
      override def close(): Unit = ()
    }
  }
}
