package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationFactory}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd membership count: `count_in(toks, 'w1', 'w2', ...)`
  * returns exactly `size(filter(toks, t -> t IN ('w1', 'w2', ...)))`:
  * the elements byte-equal to one of the literal words, duplicates
  * counted, NULL elements never, and NULL for a NULL array (`size` under
  * ANSI mode, Spark 4's default). One loop over the array instead of
  * `filter`'s interpreted lambda call per element.
  */
case class CountIn(child: Expression, words: Seq[UTF8String]) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(st: StringType, _)
        if st.collationId == CollationFactory.UTF8_BINARY_COLLATION_ID =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"count_in requires an array of UTF8_BINARY strings, got ${t.catalogString}")
  }

  override def dataType: DataType = IntegerType
  override def prettyName: String = "count_in"

  private lazy val wordArray = words.toArray

  override def nullSafeEval(input: Any): Any =
    CountIn.count(input.asInstanceOf[ArrayData], wordArray)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ws = ctx.addReferenceObj("words", wordArray, classOf[Array[UTF8String]].getCanonicalName)
    defineCodeGen(ctx, ev, c => s"graft.expressions.CountIn.count($c, $ws)")
  }

  override protected def withNewChildInternal(newChild: Expression): CountIn =
    copy(child = newChild)
}

object CountIn {

  /** Reference implementation, called from both eval and generated code. */
  def count(toks: ArrayData, words: Array[UTF8String]): Int = {
    var n = 0
    var i = 0
    while (i < toks.numElements()) {
      if (!toks.isNullAt(i)) {
        val t = toks.getUTF8String(i)
        var j = 0
        while (j < words.length && !words(j).equals(t)) j += 1
        if (j < words.length) n += 1
      }
      i += 1
    }
    n
  }
}
