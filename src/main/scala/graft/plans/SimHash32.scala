package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.HashFunctions

/** 32-bit SimHash of a text column in ONE pass — the fused form of the
  * explode(distinct tokens) → 32 conditional-sum groupBy pipeline in
  * `Dedup.simHash`, which costs a full shuffle per corpus; this is a pure
  * map-side projection.
  *
  * Exact semantics replicated from the declarative twin (bit-equality
  * spec-proven in CodegenOnlySpec, and d04's explode-based DuckDB oracle
  * keeps matching):
  *  - tokens = `split(trim(text), ' ')` — single-space split, consecutive
  *    spaces produce empty tokens;
  *  - DISTINCT applies to FULL tokens (two tokens sharing an 8-char
  *    prefix still both count);
  *  - per distinct token: code = Σ c_j·31^(j-1) (j = 1..8 over the token
  *    right-padded with spaces to 8 chars) mod P, then for each plane b:
  *    vote +1 if (a_b·code + b_b) mod P is odd else −1;
  *  - bit b of the result is set iff its vote sum is > 0.
  * The walk is over bytes, the twin's over code points: a non-ASCII byte
  * throws ([[AsciiBytes]]).
  */
case class SimHash32(child: Expression) extends UnaryExpression {

  private val Bits = 32

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_simhash32 expects (string), got ${child.dataType.simpleString}")

  private lazy val as: Array[Long] = (0 until Bits).map(HashFunctions.permA).toArray
  private lazy val bs: Array[Long] = (0 until Bits).map(HashFunctions.permB).toArray

  override def nullSafeEval(input: Any): Any =
    SimHash32.compute(input.asInstanceOf[UTF8String], as, bs)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("simhashA", as, "long[]")
    val bRef = ctx.addReferenceObj("simhashB", bs, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.SimHash32.compute($c, $aRef, $bRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash32 {
  /** Shared by interpreted eval and codegen (the loop is scalar Java
    * either way; codegen only needs the call fused into the stage).
    */
  def compute(text: UTF8String, as: Array[Long], bs: Array[Long]): Long = {
    val bits = as.length
    val b = AsciiBytes.of(text.trim(), "graft_simhash32")
    val votes = new Array[Int](bits)
    val seen = new java.util.HashSet[UTF8String]()
    var start = 0
    var i = 0
    val n = b.length
    while (i <= n) {
      if (i == n || b(i) == ' ') {
        // token = bytes [start, i); empty tokens (consecutive spaces) count
        if (seen.add(UTF8String.fromBytes(b, start, i - start))) {
          // Horner over rpad(token, 8, ' ') — rpad truncates to 8, pads
          // with ' ' (32); fold runs most-padded char inward
          var acc = 0L
          var p = 8
          while (p > i - start) { acc = 32L + 31L * acc; p -= 1 }
          var j = math.min(i - start, 8) - 1
          while (j >= 0) { acc = (b(start + j) & 0xffL) + 31L * acc; j -= 1 }
          val code = acc % HashFunctions.P
          var bit = 0
          while (bit < bits) {
            val h = (as(bit) * code + bs(bit)) % HashFunctions.P
            votes(bit) += (if (h % 2 == 1) 1 else -1)
            bit += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    var out = 0L
    var bit = 0
    while (bit < bits) {
      if (votes(bit) > 0) out |= 1L << bit
      bit += 1
    }
    out
  }
}
