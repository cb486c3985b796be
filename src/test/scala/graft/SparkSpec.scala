package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared test session: one local session per forked test JVM (never
  * stopped — suites share it; JVM exit tears it down).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh").toString
    val s = GraftSession.builder("local[4]", 4)
      .config("spark.sql.warehouse.dir", wh) // fresh per JVM: saveAsTable
      .getOrCreate() //  locations must not outlive the in-memory catalog
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf001 = "/root/testdata/sf0.001"

  /** Spark jobs started while `body` runs. */
  def jobsDuring(body: => Unit): Int = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try { body; ListenerBusDrain(spark.sparkContext); n.get }
    finally spark.sparkContext.removeSparkListener(l)
  }
}
