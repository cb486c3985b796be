package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec

/** The CF consumers read the memoized, checkpointed CF table as it is:
  * once the memo is warm, building a consumer's frame runs no job.
  */
class RecsysSpec extends SparkSpec {

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

  test("a warm q_rec_cold_start frame is built without a job") {
    Recsys.qRecColdStart(spark, sf001) // warms the CF memo and the table schemas
    assert(jobsDuring(Recsys.qRecColdStart(spark, sf001)) == 0,
      "building the frame re-checkpointed the memoized CF table")
  }
}
