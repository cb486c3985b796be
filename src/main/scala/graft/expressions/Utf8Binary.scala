package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.CollationFactory
import org.apache.spark.sql.types.{DataType, StringType}

/** The input check of the byte-pass string expressions: they read the
  * UTF-8 bytes, so only a UTF8_BINARY string is accepted.
  */
private[expressions] object Utf8Binary {

  def check(t: DataType, name: String): TypeCheckResult = t match {
    case st: StringType if st.collationId == CollationFactory.UTF8_BINARY_COLLATION_ID =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$name requires a UTF8_BINARY string, got ${t.catalogString}")
  }
}
