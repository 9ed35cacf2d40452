package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}
import org.apache.spark.sql.SparkSessionExtensions

/** What the dot kernels share with their declarative twin
  * `aggregate(zip_with(a, b, (x, y) -> f(x, y)), 0, (acc, v) -> acc + v)`:
  * a null element makes its term, and so the sum, NULL, which makes the
  * result nullable whenever an element type is. Unequal lengths THROW:
  * the twin pads the shorter side with NULL, and a silent common-prefix
  * sum would hash-flake engine-vs-oracle with no error. Each kernel's
  * `compute` returns the boxed result, null for NULL. DotKernelsPropSpec
  * pins both eval paths against the twin.
  */
trait ArrayDot extends BinaryExpression {
  protected def fn: String
  protected def elemType: DataType

  override def nullIntolerant: Boolean = true

  override def nullable: Boolean = left.nullable || right.nullable ||
    Seq(left, right).exists(_.dataType match {
      case ArrayType(_, containsNull) => containsNull
      case _ => false
    })

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(t, _) => t == elemType
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$fn expects (array<${elemType.simpleString}>, array<${elemType.simpleString}>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  /** Generated code storing `call`, a companion's `compute` call. */
  protected def resultCode(ev: ExprCode, call: String): String =
    if (nullable) NullableResult.assign(ev, dataType, call)
    else s"${ev.value} = $call;" // no null element: compute never returns null
}

object ArrayDot {
  /** The common length of `x` and `y`; throws on a mismatch. */
  def length(fn: String, x: ArrayData, y: ArrayData): Int = {
    val n = x.numElements()
    if (y.numElements() != n)
      throw new IllegalArgumentException(s"$fn length mismatch: $n vs ${y.numElements()}")
    n
  }
}

/** Native codegen dot product over two `array<float>` columns.
  *
  * The similarity hot path scores every candidate row; the declarative
  * `aggregate(zip_with(...))` form allocates an intermediate array per row
  * and interprets two lambdas. This expression is one primitive loop
  * called from inside WholeStageCodegen — no intermediate array, no
  * lambdas. Returns double (f32 products accumulate in f64); null if
  * either side or any element is null (the [[ArrayDot]] contract).
  */
case class DotProductF32(left: Expression, right: Expression) extends ArrayDot {

  override protected def fn: String = "graft_dot_f32"
  override protected def elemType: DataType = FloatType
  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    DotProductF32.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      resultCode(ev, s"graft.plans.DotProductF32.compute($a, $b)"))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProductF32 {
  /** Shared by interpreted eval and codegen; null on a null element. */
  def compute(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = ArrayDot.length("graft_dot_f32", x, y)
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getFloat(i).toDouble * y.getFloat(i)
      i += 1
    }
    s
  }
}

/** Codegen dot product over two `array<bigint>` columns — the exact-math
  * twin of [[DotProductF32]] for the quantized similarity/near-dup path.
  * At sf0.1 the pairwise scan is ~9x faster than the declarative
  * `aggregate(zip_with(...))` fold it replaces (no per-row array alloc,
  * no interpreted lambdas). Overflow throws, as the twin's ANSI
  * arithmetic does; like the twin, every product is taken (an overflow
  * after a null element still throws) but the sum stops at the first null.
  */
case class DotProductI64(left: Expression, right: Expression) extends ArrayDot {

  override protected def fn: String = "graft_dot_i64"
  override protected def elemType: DataType = LongType
  override def dataType: DataType = LongType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    DotProductI64.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      resultCode(ev, s"graft.plans.DotProductI64.compute($a, $b)"))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProductI64 {
  /** Shared by interpreted eval and codegen; null on a null element. */
  def compute(x: ArrayData, y: ArrayData): java.lang.Long = {
    val n = ArrayDot.length("graft_dot_i64", x, y)
    var s = 0L
    var sawNull = false
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) sawNull = true
      else {
        val p = Math.multiplyExact(x.getLong(i), y.getLong(i))
        if (!sawNull) s = Math.addExact(s, p)
      }
      i += 1
    }
    if (sawNull) null else s
  }
}

/** Registration: programmatic (per session) or via
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
object GraftFunctions {
  val dotF32Info = new ExpressionInfo(classOf[DotProductF32].getName, "graft_dot_f32")
  val dotI64Info = new ExpressionInfo(classOf[DotProductI64].getName, "graft_dot_i64")
  val sqdistI64Info = new ExpressionInfo(classOf[SqDistI64].getName, "graft_sqdist_i64")
  val argminInfo = new ExpressionInfo(classOf[ArgMinSqDist].getName, "graft_argmin_sqdist")
  val isectI64Info = new ExpressionInfo(classOf[IntersectCountSortedI64].getName, "graft_isect_sorted_i64")
  val fpInfo = new ExpressionInfo(classOf[RollingFingerprint].getName, "graft_fingerprint")
  val mh16Info = new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash16")
  val sh3Info = new ExpressionInfo(classOf[ShingleHashes].getName, "graft_shingles3")
  val sh13Info = new ExpressionInfo(classOf[ShingleHashes].getName, "graft_shingles13")
  val simh32Info = new ExpressionInfo(classOf[SimHash32].getName, "graft_simhash32")
  val winnow13Info = new ExpressionInfo(classOf[WinnowFps].getName, "graft_winnow13")
  val winnow13pInfo = new ExpressionInfo(classOf[WinnowFps].getName, "graft_winnow13p")
  val hplanesInfo = new ExpressionInfo(classOf[HyperplaneBuckets].getName, "graft_hyperplanes")
  val bloomAggInfo = new ExpressionInfo(
    classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
    "graft_bloom_agg")
  val bloomMightInfo = new ExpressionInfo(
    classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
    "graft_might_contain")

  /** (n, base, mod) families: 3-gram exact 24-bit packing (codes < 2^24,
    * so a 2^32 modulus never fires) and the 13-gram decontamination hash
    * (Horner base 31 mod 2^56).
    */
  val Sh3Params: (Int, Long, Long) = (3, 256L, 1L << 32)
  val Sh13Params: (Int, Long, Long) = (13, 31L, 1L << 56)

  /** One builder list shared by both registration paths, so the
    * per-session registry and the cluster-wide injector cannot drift.
    */
  val builders: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_dot_f32"), dotF32Info,
      (exprs: Seq[Expression]) => DotProductF32(exprs(0), exprs(1))),
    (FunctionIdentifier("graft_dot_i64"), dotI64Info,
      (exprs: Seq[Expression]) => DotProductI64(exprs(0), exprs(1))),
    (FunctionIdentifier("graft_sqdist_i64"), sqdistI64Info,
      (exprs: Seq[Expression]) => SqDistI64(exprs(0), exprs(1))),
    (FunctionIdentifier("graft_argmin_sqdist"), argminInfo,
      (exprs: Seq[Expression]) => ArgMinSqDist(exprs(0), exprs(1))),
    (FunctionIdentifier("graft_isect_sorted_i64"), isectI64Info,
      (exprs: Seq[Expression]) => IntersectCountSortedI64(exprs(0), exprs(1))),
    (FunctionIdentifier("graft_fingerprint"), fpInfo,
      (exprs: Seq[Expression]) => RollingFingerprint(exprs(0))),
    (FunctionIdentifier("graft_minhash16"), mh16Info,
      (exprs: Seq[Expression]) => MinHashSig(exprs(0), 16)),
    (FunctionIdentifier("graft_shingles3"), sh3Info,
      (exprs: Seq[Expression]) =>
        ShingleHashes(exprs(0), Sh3Params._1, Sh3Params._2, Sh3Params._3)),
    (FunctionIdentifier("graft_shingles13"), sh13Info,
      (exprs: Seq[Expression]) =>
        ShingleHashes(exprs(0), Sh13Params._1, Sh13Params._2, Sh13Params._3)),
    (FunctionIdentifier("graft_simhash32"), simh32Info,
      (exprs: Seq[Expression]) => SimHash32(exprs(0))),
    // t25's winnowing fingerprints: 13-gram Horner (base 31 mod 2^56)
    // truncated to 40 bits, window w=8, position capacity 2^20
    (FunctionIdentifier("graft_winnow13"), winnow13Info,
      (exprs: Seq[Expression]) => WinnowFps(exprs(0), Sh13Params._1,
        Sh13Params._2, Sh13Params._3, 8, 1L << 40, 1L << 20)),
    // positional twin: distinct packed minkeys (fp*2^20 + (2^20-1-pos))
    (FunctionIdentifier("graft_winnow13p"), winnow13pInfo,
      (exprs: Seq[Expression]) => WinnowFps(exprs(0), Sh13Params._1,
        Sh13Params._2, Sh13Params._3, 8, 1L << 40, 1L << 20,
        keepPos = true)),
    (FunctionIdentifier("graft_hyperplanes"), hplanesInfo,
      (exprs: Seq[Expression]) => HyperplaneBuckets(exprs(0),
        literalInt(exprs, 1, "graft_hyperplanes", "tables"),
        literalInt(exprs, 2, "graft_hyperplanes", "planes"))),
    // Spark's own runtime-filter machinery, surfaced as explicit SQL
    // functions: the SAME BloomFilterAggregate/BloomFilterMightContain
    // expressions AQE's InjectRuntimeFilter plants automatically, exposed
    // so a pipeline can build a semi-join-reduction filter as a first-
    // class step (build once, reuse across many fact scans). Not a graft
    // reimplementation — a registration of internal-registry expressions.
    (FunctionIdentifier("graft_bloom_agg"), bloomAggInfo,
      (exprs: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(exprs(0))),
    (FunctionIdentifier("graft_might_contain"), bloomMightInfo,
      (exprs: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          exprs(0), exprs(1))))

  /** Extract a required foldable integer argument with a real error
    * message (a bare eval() on a column argument surfaces as an internal
    * Spark error instead of naming the function).
    */
  private def literalInt(exprs: Seq[Expression], i: Int,
      fn: String, argName: String): Int = {
    if (exprs.lengthCompare(i + 1) < 0 || !exprs(i).foldable)
      throw new IllegalArgumentException(
        s"$fn: argument '$argName' (position ${i + 1}) must be an integer literal")
    exprs(i).eval() match {
      case v: Int => v
      case v: Long if v.isValidInt => v.toInt
      case other => throw new IllegalArgumentException(
        s"$fn: argument '$argName' must be an integer literal, got $other")
    }
  }

  def register(spark: SparkSession): Unit =
    builders.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}

/** SparkSessionExtensions injector for cluster-wide deployment
  * (`spark.sql.extensions=graft.plans.GraftExtensions`): every graft
  * expression, same builder list as the programmatic path.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.builders.foreach(ext.injectFunction)
}
