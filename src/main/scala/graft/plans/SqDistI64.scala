package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Codegen squared L2 distance Σ(x−c)² over two `array<bigint>` columns —
  * the training/assignment twin of [[DotProductI64]].
  *
  * Every Lloyd argmin (KMeans.assignQuantized, the d20/d36 PQ trainer and
  * encoder) scores n×k crossJoin rows; the declarative
  * `aggregate(zip_with(q, cq, (x,c) -> (x-c)*(x-c)), 0L, ...)` form those
  * paths used is a CodegenFallback higher-order function — per row it
  * allocates the zipped intermediate array and interprets two lambdas
  * (guide §4: eliminate non-codegen expressions from the hot path). This
  * is one primitive loop called from inside WholeStageCodegen.
  * Identical arithmetic and fold order (index-ascending), so results are
  * bit-equal to the fold (CodegenOnlySpec pins equality on the real
  * corpus). The [[ArrayDot]] contract: NULL if either side or any element
  * is null, and unequal lengths THROW (the fold returns NULL there, and a
  * silent min-length prefix sum would hash-flake engine-vs-oracle with no
  * error). Overflow throws, as the fold's ANSI arithmetic does; like the
  * fold, every difference and square is taken (an overflow after a null
  * element still throws) but the sum stops at the first null.
  */
case class SqDistI64(left: Expression, right: Expression) extends ArrayDot {

  override protected def fn: String = "graft_sqdist_i64"
  override protected def elemType: DataType = LongType
  override def dataType: DataType = LongType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SqDistI64.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      resultCode(ev, s"graft.plans.SqDistI64.compute($a, $b)"))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SqDistI64 {
  /** Shared by interpreted eval and codegen; null on a null element. */
  def compute(x: ArrayData, y: ArrayData): java.lang.Long = {
    val n = ArrayDot.length("graft_sqdist_i64", x, y)
    var s = 0L
    var sawNull = false
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) sawNull = true
      else {
        val d = Math.subtractExact(x.getLong(i), y.getLong(i))
        val sq = Math.multiplyExact(d, d)
        if (!sawNull) s = Math.addExact(s, sq)
      }
      i += 1
    }
    if (sawNull) null else s
  }
}
