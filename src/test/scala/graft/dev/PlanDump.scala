package graft.dev

import graft.{GraftSession, SparkEntry}

/** Dev-only plan dumper: `Test/runMain graft.dev.PlanDump <outDir> <suffix>
  * <query...>` — writes `<outDir>/<query>_<suffix>.txt` containing
  * `.explain("formatted")` plus the PlanReport summary for each named
  * query, so plan-shape claims in OPTIMIZATION_*.md are checkable files
  * rather than transcript excerpts.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r12")
    val suffix = if (args.length > 1) args(1) else "before"
    val rows = SparkEntry.select(args.drop(2).toSeq).sortBy(_.name)
    val spark = GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    rows.foreach { q =>
      val name = q.name
      val df = q.engine(spark, dir)
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
