package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine — the only place a session is
  * built, so the plans the oracle dump (Verify) certifies are the plans
  * the bench times and the tests audit.
  *
  * Tuned for the dev harness but every knob is the one you would also set
  * on a 1000-executor cluster: a small shuffle partition count locally
  * (cluster: ~2-3x total cores) and a broadcast threshold sized so
  * dimension tables (region/nation/supplier/part) broadcast while facts
  * never do. AQE, its partition coalescing and skew-join splitting, the
  * 128 MB file split and parquet filter pushdown are Spark defaults and
  * are not repeated here.
  */
object GraftSession {

  /** Every conf a graft session sets besides master and shuffle partitions. */
  val confs: Map[String, String] = Map(
    "spark.sql.autoBroadcastJoinThreshold" -> (64L * 1024 * 1024).toString,
    // constraint propagation infers isnotnull(joinKey) filters; when the
    // join key is an expensive derived column (min/max over hashed
    // shingle arrays) the inferred filter inlines and re-evaluates the
    // whole derivation scan-side — measured at 8s of a 23s bench. Our
    // join keys are never null by construction.
    "spark.sql.constraintPropagation.enabled" -> "false",
    // events.parquet carries TIMESTAMP(NANOS) which Spark rejects by
    // default; read as Long and normalize in Tables.events.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.aggregatePushdown" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    // resident-driver hygiene: a resident driver never GCs between
    // queries, so the ContextCleaner — which reaps dead localCheckpoint
    // blocks only after their RDD objects are collected — waits for
    // Spark's default 30 min periodic GC, longer than a whole sweep. Dead
    // blocks then squeeze the storage pool until late-suite hash joins
    // crawl (q_slope_one 21.3s in-sweep vs 4.3s fresh, OPTIMIZATION_r12.md).
    // 90s keeps steady state; memoized frames stay referenced.
    "spark.cleaner.periodicGC.interval" -> "90s",
    // compiled-class cache sized to a resident session's working set:
    // with Spark's default of 100 entries every warm pass of the
    // perfbench resident_mix (five queries, 163 classes on first run)
    // recompiled 64-83 classes. At 200, the smallest round size that
    // reached it, a warm pass compiles none, bar an occasional 4-class
    // AQE re-plan of q_cf_coverage that every size shows (CodegenMetrics,
    // C1 JIT, 4 cores). Static conf: the JVM-wide cache is built once,
    // so only the first session in the JVM sets its size.
    "spark.sql.codegen.cache.maxEntries" -> "200",
    "spark.ui.enabled" -> "false")

  def builder(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config(confs)

  /** The session every harness main runs on: local[n] with n shuffle
    * partitions, n = SPARK_GRAFT_CPUS (default 4), WARN logging. */
  def local(): SparkSession = {
    val raw = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val cpus = raw.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS='$raw' is not a positive integer"))
    val spark = builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
