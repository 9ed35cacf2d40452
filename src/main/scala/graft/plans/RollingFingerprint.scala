package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass rolling document fingerprint over an ASCII text column.
  *
  * Semantically identical to the declarative form in
  * [[graft.functions.TextFunctions.fingerprintSpark]] —
  * `aggregate(transform(split(trim(text),' '), tok -> horner8(rpad(tok,8))),
  * 0, (acc,c) -> (acc*1000003 + c) % P)` — but with zero array
  * allocation: one walk over the UTF8 bytes, token boundaries at spaces
  * (consecutive spaces produce empty tokens, as `split` does), each
  * token's code from its first 8 bytes space-padded, Horner base 31,
  * mod P = 2^31-1. ASCII-only texts: multibyte code points would diverge
  * from `ascii()` semantics, so any byte >= 0x80 throws on both eval
  * paths ([[AsciiBytes]]).
  */
case class RollingFingerprint(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_fingerprint expects string, got ${child.dataType.simpleString}")

  override protected def nullSafeEval(input: Any): Any =
    RollingFingerprint.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.RollingFingerprint.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RollingFingerprint {
  /** Shared by interpreted eval and codegen. */
  def compute(text: UTF8String): Long = {
    val b = AsciiBytes.of(text, "graft_fingerprint")
    var lo = 0
    var hi = b.length
    while (lo < hi && b(lo) == ' ') lo += 1
    while (hi > lo && b(hi - 1) == ' ') hi -= 1
    val P = 2147483647L
    var fp = 0L
    var i = lo
    var done = false
    while (!done) {
      var j = i
      while (j < hi && b(j) != ' ') j += 1
      var acc = 0L
      var k = 8
      while (k >= 1) {
        val ch = if (i + k - 1 < j) b(i + k - 1) & 0xff else 32
        acc = ch + 31 * acc
        k -= 1
      }
      fp = (fp * 1000003L + acc % P) % P
      if (j >= hi) done = true else i = j + 1
    }
    fp
  }
}
