package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, StringTranslate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd count of Gopher's symbol characters:
  * `symbol_count(text)` returns exactly
  * `length(translate(text, WordChars, ''))`, the characters outside
  * `[a-zA-Z0-9 ]` (NULL for NULL), without `translate`'s decode to a
  * Java string, per-character map lookup and re-encode.
  *
  * Valid UTF-8 is counted in one byte pass: an ASCII byte counts unless
  * it is in the class, and every non-ASCII character counts once,
  * stepping by its lead byte's width as `length` does. `translate`
  * decodes invalid UTF-8 with Java's replacement rules, which that
  * stepping does not reproduce, so text that fails
  * `UTF8String.isValid` is counted through Spark's own `translate`.
  */
case class SymbolCount(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    Utf8Binary.check(child.dataType, prettyName)

  override def dataType: DataType = IntegerType
  override def prettyName: String = "symbol_count"

  override def nullSafeEval(input: Any): Any = SymbolCount.count(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.SymbolCount.count($c)")

  override protected def withNewChildInternal(newChild: Expression): SymbolCount =
    copy(child = newChild)
}

object SymbolCount {

  /** The characters that are not symbols. */
  val WordChars = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 "

  private val isWordByte: Array[Boolean] = {
    val a = new Array[Boolean](128)
    WordChars.foreach(c => a(c) = true)
    a
  }

  private lazy val deleteWordChars = StringTranslate.buildDict(
    UTF8String.fromString(WordChars), UTF8String.EMPTY_UTF8,
    CollationFactory.UTF8_BINARY_COLLATION_ID)

  /** Reference implementation, called from both eval and generated code. */
  def count(s: UTF8String): Int = {
    val len = s.numBytes()
    var n = 0
    var checked = false
    var i = 0
    while (i < len) {
      val b = s.getByte(i)
      if (b >= 0) {
        if (!isWordByte(b)) n += 1
        i += 1
      } else {
        if (!checked) {
          if (!s.isValid()) return CollationSupport.StringTranslate.exec(
            s, deleteWordChars, CollationFactory.UTF8_BINARY_COLLATION_ID).numChars()
          checked = true
        }
        n += 1
        i += UTF8String.numBytesForFirstByte(b)
      }
    }
    n
  }
}
