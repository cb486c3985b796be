package graft
import java.nio.file.{Files, Paths}
import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing args: restrict the dump to the named queries
    // (local iteration); the driver always passes exactly two args
    val only = args.drop(2).toSet
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // never leave a previous run's dump behind a failure — a stale
        // directory would read as a (false) pass downstream
        val dir = new java.io.File(s"$outDir/$name")
        if (dir.exists()) {
          dir.listFiles().foreach(_.delete())
          dir.delete()
        }
      }
    }
    val json = JObject(SparkEntry.oracleSql.toList.map { case (k, v) => k -> JString(v) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), JsonMethods.compact(json))
    spark.stop()
  }
}
