package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationFactory, CollationSupport, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd whitespace tokenizer: `ws_tokens(text)` returns
  * exactly `split(lower(trim(text)), "\\s+")` (NULL for NULL), in one
  * byte pass instead of three string rebuilds.
  *
  *  - trim: Spark's `trim`, spaces (0x20) only.
  *  - lower: all-ASCII text is lowered byte-wise, which is what every
  *    Spark case mapping gives ASCII; any other text goes through Spark's
  *    own `CollationSupport.Lower` with `useICU` read from the session
  *    conf as `Lower` reads it. So ASCII text never loads ICU's
  *    case-mapping tables (a one-off ~2.5 CPU-s per JVM), and non-ASCII
  *    text costs what `lower` costs.
  *  - split: on runs of Java's `\s` bytes `[ \t\n\x0B\f\r]`, none of
  *    which can occur inside a multi-byte UTF-8 sequence. As with
  *    `split(..., -1)`, a leading or trailing run yields an empty token
  *    and `""` yields `[""]`.
  *
  * Tokens are views on one fresh byte array per row, never on the input
  * row's buffer.
  */
case class WsTokens(child: Expression) extends UnaryExpression {

  private lazy val useICU: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override def checkInputDataTypes(): TypeCheckResult =
    Utf8Binary.check(child.dataType, prettyName)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "ws_tokens"

  override def nullSafeEval(input: Any): Any =
    WsTokens.compute(input.asInstanceOf[UTF8String], useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.WsTokens.compute($c, $useICU)")

  override protected def withNewChildInternal(newChild: Expression): WsTokens =
    copy(child = newChild)
}

object WsTokens {

  /** Reference implementation, called from both eval and generated code. */
  def compute(s: UTF8String, useICU: Boolean): ArrayData = {
    var from = 0
    var to = s.numBytes()
    while (from < to && s.getByte(from) == ' ') from += 1
    while (to > from && s.getByte(to - 1) == ' ') to -= 1
    val b = new Array[Byte](to - from)
    Platform.copyMemory(s.getBaseObject, s.getBaseOffset + from,
      b, Platform.BYTE_ARRAY_OFFSET, b.length)
    var i = 0
    while (i < b.length) {
      val c = b(i)
      if (c < 0) return split(bytesOf(CollationSupport.Lower.exec(
        s.trim(), CollationFactory.UTF8_BINARY_COLLATION_ID, useICU)))
      if (c >= 'A' && c <= 'Z') b(i) = (c + 32).toByte
      i += 1
    }
    split(b)
  }

  private def bytesOf(u: UTF8String): Array[Byte] = {
    val b = new Array[Byte](u.numBytes())
    u.writeToMemory(b, Platform.BYTE_ARRAY_OFFSET)
    b
  }

  // Java's \s: ' ' and \t \n \x0B \f \r (9..13)
  private def isWs(c: Byte): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  /** Pieces between whitespace runs: runs + 1 tokens. */
  private def split(b: Array[Byte]): ArrayData = {
    var runs = 0
    var i = 0
    while (i < b.length) {
      if (isWs(b(i)) && (i == 0 || !isWs(b(i - 1)))) runs += 1
      i += 1
    }
    val out = new Array[Any](runs + 1)
    var k = 0
    var start = 0
    i = 0
    while (i < b.length) {
      if (isWs(b(i))) {
        out(k) = UTF8String.fromBytes(b, start, i - start)
        k += 1
        while (i < b.length && isWs(b(i))) i += 1
        start = i
      } else i += 1
    }
    out(k) = UTF8String.fromBytes(b, start, b.length - start)
    new GenericArrayData(out)
  }
}
