package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for shuffle joins: salt the skewed (fact) side into
  * `salts` sub-keys and replicate the dimension side across all salts.
  * AQE's skew-join split handles moderate skew at runtime; explicit
  * salting is for the pathological key (one user/tenant owning >1 task's
  * worth of rows) where even a split partition is one reducer's problem.
  *
  * Cost model: dimension side is replicated ×salts through the shuffle —
  * use only when |dim| × salts ≪ |fact|.
  */
object Salt {

  /** Equi-join `fact ⋈ dim` on `key`, spreading each fact key over
    * `salts` reducers. Produces exactly the rows of the unsalted join.
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String, salts: Int): DataFrame = {
    val saltedFact = fact.withColumn("_salt",
      pmod(hash(col(key), monotonically_increasing_id()), lit(salts)))
    val saltedDim = dim.withColumn("_salt",
      explode(array((0 until salts).map(lit): _*)))
    saltedFact.join(saltedDim, Seq(key, "_salt")).drop("_salt")
  }
}
