package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.HashFunctions

/** Full k-permutation MinHash signature of an ASCII text column in ONE
  * pass over its bytes.
  *
  * Replaces the explode(3-gram shingles) → 16×min groupBy pipeline: min is
  * duplicate-insensitive, so no distinct, no explode, and — decisively —
  * no shuffle: the signature becomes a map-side projection and LSH banding
  * runs directly on it. Hash family and shingle codes are identical to
  * [[graft.functions.HashFunctions]] / `Dedup.shingleCodeSql`, so the
  * explode-based DuckDB oracle still matches exactly.
  *
  * Texts shorter than 3 chars have no shingles → null signature (callers
  * filter; the corpus minimum is 48 chars).
  *
  * ASCII only: any byte >= 0x80 throws on both eval paths
  * ([[AsciiBytes]]).
  */
case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && k > 0) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_minhash expects (string) with k > 0, got ${child.dataType.simpleString}, k=$k")

  private lazy val as: Array[Long] = (0 until k).map(HashFunctions.permA).toArray
  private lazy val bs: Array[Long] = (0 until k).map(HashFunctions.permB).toArray

  override def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[UTF8String], as, bs)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", as, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", bs, "long[]")
    nullSafeCodeGen(ctx, ev, c => NullableResult.assign(ev, dataType,
      s"graft.plans.MinHashSig.compute($c, $aRef, $bRef)"))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSig {
  /** Shared by interpreted eval and codegen: one minimum per permutation
    * (`as`, `bs`); null for text shorter than 3 chars. */
  def compute(text: UTF8String, as: Array[Long], bs: Array[Long]): GenericArrayData = {
    val b = AsciiBytes.of(text, "graft_minhash")
    if (b.length < 3) return null
    val k = as.length
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i <= b.length - 3) {
      val code = (b(i) & 0xff) * 65536L + (b(i + 1) & 0xff) * 256L + (b(i + 2) & 0xff)
      var p = 0
      while (p < k) {
        val h = (as(p) * code + bs(p)) % HashFunctions.P
        if (h < mins(p)) mins(p) = h
        p += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}
