package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Fused nearest-centroid argmin over a broadcast codebook embedded as one
  * `array<array<bigint>>` row: returns `minDist * 2^21 + argminIndex`
  * (0-based position; ties keep the LOWEST index — iterate ascending with
  * strict `<`).
  *
  * Replaces the crossJoin-explode → n×k scored rows → `min_by(struct(...),
  * struct(dist, cent_id))` aggregation of every Lloyd/PQ assignment pass.
  * The r20 plan audit showed that shape costs more than its arithmetic:
  * `min_by` with a struct ordering key has no mutable fixed-width buffer,
  * so Spark plans a **SortAggregate — a sort of the n×k expanded rows —**
  * per assignment pass. Evaluating the whole argmin inside one codegen
  * scan projection removes the row explosion, the sort, and the
  * aggregation entirely; the caller restores `cent_id` by indexing the
  * aligned id array (codebooks sorted ascending by cent_id, so lowest
  * index == lowest cent_id — identical tie-break to the old
  * struct(dist, cent_id) ordering).
  *
  * Packing contract (callers: quantized milli-unit embeddings): index
  * < 2^21 and every ||x − c||² < 2^42 — a 64-dim milli-unit diff bound
  * of ±2·10^5 per dim stays under 2^42 with 100x margin. The bound is
  * the CALLER's contract, and every Lloyd/PQ step goes through this
  * expression (KMeans.assignQuantized / fitQuantizedSubspaces and the
  * d20/d36 encoders), so it binds their inputs. The final guard is a
  * partial check, not an enforcement: it throws when the winning
  * distance is `>= 2^42` or negative. A negative s always wins the
  * argmin, so an accumulator that wraps ONCE to a negative value (true
  * sum in [2^63, 2^64)) is caught at zero inner-loop cost (r21: the
  * in-loop per-centroid check this replaced measured as a real hit on
  * the PQ family's short subspace loops). A sum that wraps
  * twice or more, back into `[0, 2^42)`, is NOT caught: it looks like a
  * valid distance and packs a silently wrong index. Each centroid's
  * length must equal the vector's — checked BRANCH-FREE (a boolean
  * accumulator, throw after the loop, so no exception block bloats the
  * hot loop body) — a ragged codebook throws instead of silently scoring
  * a min-length prefix. Null if either input is null; null on an empty
  * codebook.
  */
case class ArgMinSqDist(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = left.dataType == ArrayType(LongType, containsNull = false) ||
      left.dataType == ArrayType(LongType, containsNull = true)
    val okR = right.dataType match {
      case ArrayType(ArrayType(LongType, _), _) => true
      case _ => false
    }
    if (ok && okR) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_argmin_sqdist expects (array<bigint>, array<array<bigint>>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    ArgMinSqDist.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => NullableResult.assign(ev, dataType,
      s"graft.plans.ArgMinSqDist.compute($a, $b)"))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ArgMinSqDist {
  /** Shared by interpreted eval and codegen; null on an empty codebook. */
  def compute(q: ArrayData, cbs: ArrayData): java.lang.Long = {
    val k = cbs.numElements()
    if (k == 0) return null
    val n = q.numElements()
    var bestD = Long.MaxValue
    var bestI = -1
    // branch-free contract flag (see Scaladoc): the throw lives AFTER
    // the loop so the hot loop body stays exception-free (an in-loop
    // throw block measured as a real hit on the short PQ subspace loops)
    var lenOk = true
    var c = 0
    while (c < k) {
      val cq = cbs.getArray(c)
      lenOk &= cq.numElements() == n
      val m = math.min(n, cq.numElements())
      var s = 0L
      var i = 0
      while (i < m) {
        val d = q.getLong(i) - cq.getLong(i)
        s += d * d
        i += 1
      }
      if (s < bestD) { bestD = s; bestI = c }
      c += 1
    }
    if (!lenOk)
      throw new IllegalArgumentException(
        s"graft_argmin_sqdist length mismatch: some centroid's length != $n")
    if (bestD < 0L || bestD >= (1L << 42) || k > (1 << 21))
      throw new ArithmeticException(
        s"graft_argmin_sqdist packing overflow: dist=$bestD k=$k")
    bestD * (1L << 21) + bestI
  }
}
