package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean

import graft.plans.GraftFunctions

/** Property-based differential check of the array-pair kernels: on
  * generated array pairs the interpreted path and the CODEGEN_ONLY path
  * must equal the kernel's declarative twin, or throw on both paths. The
  * dot and squared-distance kernels (null arrays, empty, ragged, null
  * elements, extreme magnitudes) may only throw on a length mismatch or
  * where the twin throws; the sorted intersect count (sorted distinct
  * arrays: null, empty, disjoint, identical, Long.MinValue/MaxValue)
  * never throws.
  */
class DotKernelsPropSpec extends SparkSpec {

  /** One side: null, or its elements, each possibly null. */
  private type Side = Option[Seq[Option[Any]]]

  private case class Kernel(fn: String, elem: DataType, twinName: String, twin: String,
      pairs: Gen[(Side, Side)], extremes: Seq[Any], classes: Set[String],
      throwsOnRagged: Boolean)

  /** Up to 8 elements, one in 13 of them null; equal lengths 4 in 5. */
  private def arrayDot(fn: String, elem: DataType, twin: String,
      plain: Gen[Any], extremes: Seq[Any]): Kernel = {
    val value = Gen.frequency(8 -> plain, 1 -> Gen.oneOf(extremes))
    def side(n: Int): Gen[Side] = Gen.frequency(
      1 -> Gen.const(None),
      10 -> Gen.listOfN(n, Gen.frequency(12 -> value.map(Some(_)), 1 -> Gen.const(None)))
        .map(Some(_)))
    val pairs = for {
      n <- Gen.choose(0, 8)
      m <- Gen.frequency(4 -> Gen.const(n), 1 -> Gen.choose(0, 8))
      a <- side(n)
      b <- side(m)
    } yield (a, b)
    Kernel(fn, elem, "aggregate(zip_with)", twin, pairs, extremes,
      Set("null array", "empty", "ragged", "null element", "extreme"), throwsOnRagged = true)
  }

  /** Sorted distinct arrays over a narrow range (so overlaps are common)
    * plus the Long extremes; the second side is drawn independently, equal
    * to the first, or disjoint from it. */
  private val sortedPairs: Gen[(Side, Side)] = {
    val sorted = Gen.listOf(Gen.frequency(
      8 -> Gen.choose(-20L, 20L), 1 -> Gen.oneOf(Long.MinValue, Long.MaxValue)))
      .map(_.distinct.sorted.take(8))
    def side(s: Gen[Seq[Long]]): Gen[Side] =
      Gen.frequency(1 -> Gen.const(None), 8 -> s.map(v => Some(v.map(Some(_)))))
    for {
      a <- side(sorted)
      xs = a.toSeq.flatten.flatten.toSet
      b <- Gen.frequency(4 -> side(sorted), 1 -> Gen.const(a),
        1 -> side(sorted.map(_.filterNot(xs))))
    } yield (a, b)
  }

  private val kernels = Seq(
    arrayDot("graft_dot_f32", FloatType,
      "aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)",
      Gen.choose(-1000f, 1000f), Seq(Float.MaxValue, -Float.MaxValue,
        Float.MinPositiveValue, Float.PositiveInfinity, Float.NaN)),
    // the extremes overflow a product or the sum, which throws under ANSI
    arrayDot("graft_dot_i64", LongType,
      "aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)",
      Gen.choose(-1000000L, 1000000L), Seq(Long.MaxValue, Long.MinValue,
        1L << 32, -(1L << 31), 3037000500L)),
    // the extremes overflow a difference, a square or the sum, which
    // throws under ANSI; 2^31 squares to 2^62, so two of them overflow the sum
    arrayDot("graft_sqdist_i64", LongType,
      "aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)",
      Gen.choose(-1000000L, 1000000L), Seq(Long.MaxValue, Long.MinValue,
        1L << 31, -(1L << 31), 3037000500L)),
    Kernel("graft_isect_sorted_i64", LongType, "size(array_intersect)",
      "CAST(size(array_intersect(a, b)) AS BIGINT)", sortedPairs,
      Seq(Long.MinValue, Long.MaxValue),
      Set("null array", "empty", "ragged", "disjoint", "identical", "extreme"),
      throwsOnRagged = false))

  private def classes(k: Kernel, a: Side, b: Side): Set[String] = {
    val arrays = Seq(a, b).flatten
    val elems = arrays.flatten
    val both = a.isDefined && b.isDefined && arrays.forall(_.nonEmpty)
    Set("null array" -> (arrays.size < 2), "empty" -> arrays.exists(_.isEmpty),
      "ragged" -> (arrays.map(_.size).distinct.size > 1),
      "null element" -> elems.contains(None),
      "disjoint" -> (both && a.get.intersect(b.get).isEmpty),
      "identical" -> (both && a == b),
      "extreme" -> elems.flatten.exists(v => k.extremes.exists(_.equals(v))))
      .collect { case (c, true) => c }
  }

  /** A result as comparable bits (NaN equals NaN), or the thrown class. */
  private def bits(v: Any): Option[Long] = v match {
    case null => None
    case r: Row => bits(if (r.isNullAt(0)) null else r.get(0))
    case d: Double => Some(java.lang.Double.doubleToLongBits(d))
    case l: Long => Some(l)
  }
  private def outcome(body: => Any): Either[String, Option[Long]] =
    try Right(bits(body)) catch { case e: Exception => Left(e.getClass.getSimpleName) }

  private def arrayType(k: Kernel, a: Side, b: Side) =
    ArrayType(k.elem, containsNull = Seq(a, b).flatten.flatten.contains(None))

  private def interpreted(k: Kernel, a: Side, b: Side): Either[String, Option[Long]] = {
    val t = arrayType(k, a, b)
    def lit(s: Side) = Literal.create(s.map(_.map(_.map(_.asInstanceOf[AnyRef]).orNull)).orNull, t)
    outcome(GraftFunctions.builders.find(_._1.funcName == k.fn).get._3(Seq(lit(a), lit(b)))
      .eval(null))
  }

  /** `sql` over a one-row RDD-backed frame in generated code (CODEGEN_ONLY,
    * so a broken doGenCode cannot fall back silently). */
  private def generated(k: Kernel, a: Side, b: Side, sql: String): Either[String, Option[Long]] = {
    GraftFunctions.register(spark)
    val t = arrayType(k, a, b)
    val schema = StructType(Seq(StructField("a", t), StructField("b", t)))
    val row = Row(a.map(_.map(_.orNull)).orNull, b.map(_.map(_.orNull)).orNull)
    withCodegenOnly(outcome(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(row), 1), schema).selectExpr(sql).collect().head))
  }

  for (k <- kernels)
    test(s"${k.fn} equals its ${k.twinName} twin" +
        (if (k.throwsOnRagged) " or throws on both eval paths" else " on both eval paths")) {
      val seen = scala.collection.mutable.Set[String]()
      val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(60)
          .withInitialSeed(20261019L), Prop.forAllNoShrink(k.pairs) { case (a, b) =>
        seen ++= classes(k, a, b)
        val interp = interpreted(k, a, b)
        val gen = generated(k, a, b, s"${k.fn}(a, b)")
        val twin = generated(k, a, b, k.twin)
        val ragged = k.throwsOnRagged && a.isDefined && b.isDefined && a.get.size != b.get.size
        val ok =
          if (interp.isLeft || gen.isLeft) interp.isLeft && gen.isLeft && (ragged || twin.isLeft)
          else interp == gen && gen == twin
        ok :| s"${k.fn}($a, $b): interpreted $interp, codegen $gen, twin $twin"
      })
      assert(res.passed, res.status match {
        case Test.Failed(_, labels) => labels.mkString("; ")
        case s => s.toString
      })
      assert(k.classes.subsetOf(seen), s"generator missed a class: ${k.classes -- seen}")
    }
}
