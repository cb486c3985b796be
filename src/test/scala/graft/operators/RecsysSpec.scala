package graft.operators

import graft.SparkSpec

/** The CF consumers read the memoized, checkpointed CF table as it is:
  * once the memo is warm, building a consumer's frame runs no job.
  */
class RecsysSpec extends SparkSpec {

  test("a warm q_rec_cold_start frame is built without a job") {
    Recsys.qRecColdStart(spark, sf001) // warms the CF memo and the table schemas
    assert(jobsDuring(Recsys.qRecColdStart(spark, sf001)) == 0,
      "building the frame re-checkpointed the memoized CF table")
  }
}
