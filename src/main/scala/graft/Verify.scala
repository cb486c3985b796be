package graft
import java.nio.file.{Files, Paths}
import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods
/** Correctness dump: each selected SparkEntry.table row's result →
  * parquet, plus those rows' oracles in oracle_sql.json, for the DuckDB
  * oracle compare (dev/check.py). */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing args: restrict the dump and oracle_sql.json to
    // the named queries (local iteration); a full run passes exactly
    // two args
    val rows = SparkEntry.select(args.drop(2).toSeq)
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    rows.foreach { q =>
      val name = q.name
      try q.engine(spark, sfDir).coalesce(1).write.mode("overwrite")
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
    val json = JObject(rows.toList.map(q => q.name -> JString(q.oracle)))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), JsonMethods.compact(json))
    spark.stop()
  }
}
