package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.{col, hash, lit, pmod}

/** Cloud-optimized re-encoding — the Spark analog of the reference's
  * netCDF→Zarr conversion (assets/loca2.py:61-103): take a dataset in an
  * access-hostile layout and rewrite it partitioned, sorted and sized for
  * parallel cloud scans.
  *
  * What Zarr gives xarray (chunked arrays + consolidated metadata),
  * partitioned parquet gives Spark: directory-level partition pruning,
  * row-group statistics for predicate skipping, and ~128 MB splits that
  * map 1:1 onto tasks. At 100 TB the partition column choice bounds every
  * downstream query's scan: partition by the coarse query key (e.g.
  * model/scenario or event date), sort within files by the fine key so
  * min/max stats prune row groups.
  */
object CloudOptimize {

  /** Rewrite `df` at `outPath` partitioned by `partitionCols`, sorted
    * within partitions by `sortCols`, targeting `maxRecordsPerFile` rows
    * per file (the small-file / giant-file guard). The write overwrites
    * what is at `outPath` (only the partitions it writes, with
    * `partitionOverwriteMode=dynamic` in `extraOptions`).
    *
    * Skew: the shuffle is `repartitionByRange(partitionCols ++ sortCols)`
    * — NOT hash-by-partition-value, which puts ALL of a hot date in one
    * task (a straggler/OOM by construction at 100 TB). Range partitioning
    * splits a hot partition value across many tasks at sort-key
    * boundaries, so it writes as several files, each still internally
    * sorted (sortWithinPartitions) and size-capped (maxRecordsPerFile);
    * cross-file sort-key ranges stay disjoint, so row-group min/max
    * pruning is as good as a single sorted file.
    *
    * `numPartitions = None` lets AQE size the range shuffle (splits a hot
    * range by advisory partition size at real scale); pass an explicit
    * count to pin the task count — user-specified partition counts are
    * exempt from AQE coalescing, which at toy scale would merge the whole
    * write back into one task.
    */
  def write(
      df: DataFrame,
      outPath: String,
      partitionCols: Seq[String],
      sortCols: Seq[String],
      maxRecordsPerFile: Long = 1000000L,
      numPartitions: Option[Int] = None,
      extraOptions: Map[String, String] = Map.empty,
      format: String = "parquet"): Unit = {
    val rangeCols = (partitionCols ++ sortCols).map(col)
    // three shapes, all skew-spreading (the first cut silently skipped
    // repartitioning for sort-less writes, reintroducing one-task skew):
    // - sort keys present: range over (partition ++ sort) keys — a hot
    //   partition value splits at sort-key boundaries into several
    //   internally-sorted, disjoint-range files;
    // - partition-only: range can't split a single hot VALUE (no key
    //   inside it), so spread with a deterministic content-hash salt —
    //   directory layout is untouched (partitionBy reads the column),
    //   files just aren't sorted (there was no sort contract anyway);
    // - neither: leave upstream partitioning alone.
    val sorted =
      if (sortCols.nonEmpty)
        numPartitions.fold(df.repartitionByRange(rangeCols: _*))(
            n => df.repartitionByRange(n, rangeCols: _*))
          .sortWithinPartitions(rangeCols: _*)
      else if (partitionCols.nonEmpty) {
        val salt = pmod(hash(df.columns.map(col): _*), lit(64))
        val keys = partitionCols.map(col) :+ salt
        numPartitions.fold(df.repartition(keys: _*))(
          n => df.repartition(n, keys: _*))
      } else df
    sorted.write
      .mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .options(extraOptions)
      .partitionBy(partitionCols: _*)
      // parquet is the default layout; ORC is the drop-in alternative for
      // stacks standardized on it — both are Spark-native columnar formats
      // with identical pruning/statistics contracts here
      .format(format)
      .save(outPath)
  }

  /** Bucketed table write: pre-shuffles data into `numBuckets` by
    * `bucketCols` so that joins and aggregations on the bucket key plan
    * with NO exchange — the co-located join. This is the 100 TB answer to
    * "lineitem ⋈ orders shuffles twice per query": pay the shuffle once
    * at ingest, never again. (Bucketing requires the table catalog, hence
    * saveAsTable rather than a bare path.)
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCols: Seq[String],
      numBuckets: Int,
      sortCols: Seq[String] = Nil): Unit = {
    val w = df.write
      .mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }
}
