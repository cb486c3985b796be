package graft.dev

import org.apache.spark.sql.SparkSession

import graft.{CuratePipeline, GraftSession, SparkEntry}

/** Dev-only plan dumper: `Test/runMain graft.dev.PlanDump <outDir> <suffix>
  * <query...>` — writes `<outDir>/<query>_<suffix>.txt` containing
  * `.explain("formatted")` plus the PlanReport summary for each named
  * query, so plan-shape claims in OPTIMIZATION_*.md are checkable files
  * rather than transcript excerpts. Besides the rows of
  * `SparkEntry.table`, the name `curated_frame` dumps
  * `CuratePipeline.curatedFrame`, the curate_corpus workload's main plan.
  * The session is `GraftSession.local()`, the one Verify and Bench run
  * on, so `SPARK_GRAFT_CPUS` sets its core and partition count.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r12")
    val suffix = if (args.length > 1) args(1) else "before"
    val (curated, queryNames) = args.drop(2).toSeq.partition(_ == "curated_frame")
    val rows =
      if (curated.nonEmpty && queryNames.isEmpty) Nil
      else SparkEntry.select(queryNames).sortBy(_.name).map(q => q.name -> q.engine)
    val frames = rows ++ curated.distinct.map(_ ->
      ((s: SparkSession, d: String) => CuratePipeline.curatedFrame(s, d)))
    val spark = GraftSession.local()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    frames.foreach { case (name, frame) =>
      val df = frame(spark, dir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val report = graft.plans.PlanReport.of(df).summary
      val body = s"== $name ($suffix, sf=$dir) ==\n$report\n\n$formatted"
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] $name -> $outDir/${name}_$suffix.txt ($report)")
    }
    spark.stop()
  }
}
