package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** `|A ∩ B|` for two SORTED, DISTINCT `array<bigint>` columns as a merge
  * walk — O(|A|+|B|) with zero allocation, vs `size(array_intersect)`
  * which builds a hash set per row. The Jaccard verify stage calls this
  * once per candidate pair (shingles packed as injective 24-bit codes),
  * which is the dedup hot loop.
  *
  * Caller contract: both arrays sorted ascending and duplicate-free; the
  * count is then exactly `size(array_intersect(a, b))` (DotKernelsPropSpec
  * pins both eval paths against it).
  */
case class IntersectCountSortedI64(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_isect_sorted_i64 expects (array<bigint>, array<bigint>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    IntersectCountSortedI64.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.IntersectCountSortedI64.compute($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object IntersectCountSortedI64 {
  /** Shared by interpreted eval and codegen. */
  def compute(x: ArrayData, y: ArrayData): Long = {
    var i = 0
    var j = 0
    var c = 0L
    while (i < x.numElements() && j < y.numElements()) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }
}
