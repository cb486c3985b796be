package graft.sources

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.{SessionMemo, SparkSpec}

/** The per-session table schema memo: a warm session loads a table
  * without re-inferring its schema, an overwritten table is read with
  * its new schema, and evict reports the memo only when it dropped
  * entries.
  */
class TablesSpec extends SparkSpec {

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try { body; ListenerBusDrain(spark.sparkContext); n.get }
    finally spark.sparkContext.removeSparkListener(l)
  }

  /** A fresh directory holding a two-row documents table. */
  private def docsDir(): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tables").toString
    Seq((1L, "a b c"), (2L, "d e")).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("a second load of a table launches no Spark job") {
    val dir = docsDir()
    assert(jobsDuring(Tables.documents(spark, dir)) > 0, "the first load infers the schema")
    assert(jobsDuring(Tables.documents(spark, dir)) == 0, "the second load re-inferred it")
    assert(Tables.documents(spark, dir).count() == 2L)
  }

  test("an overwritten table is read with its new schema") {
    import spark.implicits._
    val dir = docsDir()
    assert(Tables.documents(spark, dir).columns.toSeq == Seq("doc_id", "text"))
    Seq((3L, "f g", "en")).toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val df = Tables.documents(spark, dir)
    assert(df.columns.toSeq == Seq("doc_id", "text", "lang"))
    assert(df.collect().map(_.getString(2)).toSeq == Seq("en"))
  }

  test("evict names the schema memo only when it held entries") {
    val dir = docsDir()
    Tables.documents(spark, dir)
    assert(SessionMemo.evict(spark).contains("tables.schemaMemo"))
    assert(!SessionMemo.evict(spark).contains("tables.schemaMemo"),
      "an empty memo must not be reported as evicted")
    assert(jobsDuring(Tables.documents(spark, dir)) > 0,
      "the load after evict must infer the schema again")
  }
}
