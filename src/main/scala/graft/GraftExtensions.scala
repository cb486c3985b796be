package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.expressions.{CountIn, MinHashSigs, RollingHash, SymbolCount, VecDot, WsTokens}

/** Session extensions for the graft engine: registers the native
  * expressions as SQL functions. Activate with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` — after
  * which `expr("rolling_hash(text)")` / SQL `rolling_hash(...)` resolve
  * to the codegen'd Catalyst expression.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // float discipline as an optimizer guarantee, not a convention:
    // every round(avg|sum(double)) GROUP aggregate — including ones
    // users write — lowers to the order-independent decimal form
    ext.injectOptimizerRule(_ => graft.plans.StableAggRule)
    // the native functions: (SQL name, expression class, builder)
    Seq[(String, Class[_], Seq[Expression] => Expression)](
      ("rolling_hash", classOf[RollingHash], c => RollingHash(c.head)),
      ("minhash_sigs", classOf[MinHashSigs], c => c(1) match {
        case Literal(n: Int, _) => MinHashSigs(c.head, n)
        case other => throw new IllegalArgumentException(
          s"minhash_sigs numPerms must be an int literal, got $other")
      }),
      ("vec_dot", classOf[VecDot], c => VecDot(c(0), c(1))),
      ("ws_tokens", classOf[WsTokens], c => WsTokens(c.head)),
      ("count_in", classOf[CountIn], c => CountIn(c.head, c.tail.map {
        case Literal(w: UTF8String, _: StringType) => w
        case other => throw new IllegalArgumentException(
          s"count_in words must be string literals, got $other")
      })),
      ("symbol_count", classOf[SymbolCount], c => SymbolCount(c.head))
    ).foreach { case (name, cls, build) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    }
  }
}
