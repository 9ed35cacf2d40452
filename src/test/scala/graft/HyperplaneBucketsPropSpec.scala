package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean

import graft.operators.SimilaritySearch.bucketSql
import graft.plans.GraftFunctions

/** Property-based differential check of `graft_hyperplanes`: on generated
  * fixed-length `array<bigint>` vectors (null arrays, empty, null
  * elements, extreme magnitudes) the interpreted path and the
  * CODEGEN_ONLY path must equal `bucketSql(q, planes, dims, t·planes)` for
  * every table t, or throw on both paths. They may throw only on a null
  * element or where bucketSql's ANSI arithmetic throws. A null array is
  * NULL on both paths, where bucketSql yields bucket 0 in every table.
  */
class HyperplaneBucketsPropSpec extends SparkSpec {

  /** tables, planes, and the vector: None = a null array. */
  private case class Case(tables: Int, planes: Int, q: Option[Seq[Option[Long]]])

  private val extremes = Seq(Long.MaxValue, Long.MinValue, 1L << 53, -(1L << 53))

  /** Up to 8 dims, one element in 13 null, one value in 9 extreme. */
  private val cases: Gen[Case] = {
    val value = Gen.frequency(8 -> Gen.choose(-1000000L, 1000000L), 1 -> Gen.oneOf(extremes))
    for {
      tables <- Gen.choose(1, 3)
      planes <- Gen.choose(1, 4)
      dims <- Gen.choose(0, 8)
      q <- Gen.frequency(1 -> Gen.const(None), 10 -> Gen.listOfN(dims,
        Gen.frequency(12 -> value.map(Some(_)), 1 -> Gen.const(None))).map(Some(_)))
    } yield Case(tables, planes, q)
  }

  private def classes(c: Case): Set[String] =
    Set("null array" -> c.q.isEmpty, "empty" -> c.q.exists(_.isEmpty),
      "null element" -> c.q.exists(_.contains(None)),
      "extreme" -> c.q.exists(_.flatten.exists(extremes.contains)))
      .collect { case (k, true) => k }

  /** A result as its bucket ids, or the thrown class. */
  private def outcome(body: => Any): Either[String, Option[Seq[Long]]] =
    try Right(body match {
      case null => None
      case a: ArrayData => Some(a.toLongArray().toSeq)
      case r: Row => if (r.isNullAt(0)) None else Some(r.getSeq[Long](0))
    }) catch { case e: Exception => Left(e.getClass.getSimpleName) }

  private def arrayType(c: Case) =
    ArrayType(LongType, containsNull = c.q.exists(_.contains(None)))

  private def interpreted(c: Case): Either[String, Option[Seq[Long]]] = {
    val q = Literal.create(c.q.map(_.map(_.map(Long.box).orNull)).orNull, arrayType(c))
    outcome(GraftFunctions.builders.find(_._1.funcName == "graft_hyperplanes").get
      ._3(Seq(q, Literal(c.tables), Literal(c.planes))).eval(null))
  }

  /** `sql` over a one-row RDD-backed frame in generated code (CODEGEN_ONLY,
    * so a broken doGenCode cannot fall back silently). */
  private def generated(c: Case, sql: String): Either[String, Option[Seq[Long]]] = {
    GraftFunctions.register(spark)
    val schema = StructType(Seq(StructField("q", arrayType(c))))
    val row = Row(c.q.map(_.map(_.map(Long.box).orNull)).orNull)
    withCodegenOnly(outcome(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(row), 1), schema).selectExpr(sql).collect().head))
  }

  test("graft_hyperplanes equals bucketSql per table or throws on both eval paths") {
    val seen = scala.collection.mutable.Set[String]()
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(60)
        .withInitialSeed(20261020L), Prop.forAllNoShrink(cases) { c =>
      seen ++= classes(c)
      val interp = interpreted(c)
      val gen = generated(c, s"graft_hyperplanes(q, ${c.tables}, ${c.planes})")
      val dims = c.q.fold(0)(_.size)
      val twin = generated(c, (0 until c.tables)
        .map(t => bucketSql("q", c.planes, dims, planeOffset = t * c.planes))
        .mkString("array(", ", ", ")"))
      val ok = c.q match {
        case None =>
          interp == Right(None) && gen == Right(None) && twin == Right(Some(Seq.fill(c.tables)(0L)))
        case Some(xs) if xs.contains(None) => interp.isLeft && gen.isLeft
        case _ =>
          if (interp.isLeft || gen.isLeft) interp.isLeft && gen.isLeft && twin.isLeft
          else interp == gen && gen == twin
      }
      ok :| s"$c: interpreted $interp, codegen $gen, twin $twin"
    })
    assert(res.passed, res.status match {
      case Test.Failed(_, labels) => labels.mkString("; ")
      case s => s.toString
    })
    val want = Set("null array", "empty", "null element", "extreme")
    assert(want.subsetOf(seen), s"generator missed a class: ${want -- seen}")
  }
}
