package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** All `tables` hyperplane-LSH bucket ids of a quantized vector in ONE
  * fused pass — the codegen form of `SimilaritySearch.bucketSql` repeated
  * for plane families 0..tables·planes (table t uses planes
  * t·planes..t·planes+planes−1, matching `bucketSql(planeOffset = t·planes)`).
  *
  * The declarative form pays 32 interpreted `aggregate(zip_with(array(w…),
  * q))` lambdas per vector (measured 1.3 s of d08's 3.8 s at sf0.1 for
  * 2000 vectors); here the weight `((plane+1)·(dim+7)·2654435761) mod 1997
  * − 998` is computed inline in a primitive loop — no weight arrays, no
  * allocation. Bit-equality with bucketSql is spec-proven (CodegenOnlySpec,
  * HyperplaneBucketsPropSpec) and the generated DuckDB oracles replay the
  * same weights, so results are unchanged.
  *
  * Contract: a null element and a long overflow throw. bucketSql reads a
  * null element as a NULL projection, hence bit 0, and throws on overflow
  * under ANSI. A null array returns NULL, where bucketSql yields bucket 0
  * in every table; no caller passes one.
  */
case class HyperplaneBuckets(child: Expression, tables: Int, planes: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) if tables > 0 && planes > 0 && planes < 63 =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_hyperplanes expects (array<bigint>) with tables,planes > 0, " +
          s"got ${child.dataType.simpleString}, tables=$tables, planes=$planes")
    }

  override def nullSafeEval(input: Any): Any =
    HyperplaneBuckets.compute(input.asInstanceOf[ArrayData], tables, planes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.HyperplaneBuckets.compute($c, $tables, $planes);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HyperplaneBuckets {
  /** Shared by interpreted eval and codegen (scalar loop either way). */
  def compute(q: ArrayData, tables: Int, planes: Int): GenericArrayData = {
    val dims = q.numElements()
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bkt = 0L
      var p = 0
      while (p < planes) {
        val plane = t * planes + p
        var proj = 0L
        var d = 0
        while (d < dims) {
          if (q.isNullAt(d))
            throw new IllegalArgumentException(s"graft_hyperplanes: null element at $d")
          val w = ((plane + 1).toLong * (d + 7).toLong * 2654435761L) % 1997L - 998L
          proj = Math.addExact(proj, Math.multiplyExact(w, q.getLong(d)))
          d += 1
        }
        if (proj >= 0) bkt += 1L << p
        p += 1
      }
      out(t) = bkt
      t += 1
    }
    new GenericArrayData(out)
  }
}
