package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean

import graft.plans.{ArgMinSqDist, GraftFunctions}

/** Property-based differential check of `graft_argmin_sqdist`: generated
  * in-contract inputs (duplicate centroids, 1-row and empty codebooks,
  * null vectors) evaluated interpreted AND in generated code must equal a
  * plain-Scala reference; ragged codebooks must throw on both paths.
  */
class ArgMinSqDistPropSpec extends SparkSpec {

  private val Shift = 1L << 21
  private val VecT = ArrayType(LongType, containsNull = false)
  private val CbT = ArrayType(VecT, containsNull = false)

  /** min ||q − c||² packed as dist * 2^21 + index, the LOWEST index on
    * ties; None (SQL NULL) for a null vector or an empty codebook. */
  private def reference(q: Option[Seq[Long]], cbs: Seq[Seq[Long]]): Option[Long] =
    q.filter(_ => cbs.nonEmpty).map { v =>
      val d = cbs.map(c => v.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum)
      d.min * Shift + d.indexOf(d.min)
    }

  private case class Case(q: Option[Seq[Long]], cbs: Seq[Seq[Long]])

  // |x| <= 10^5 per dim, <= 16 dims: every ||x − c||² < 16 * (2·10^5)^2
  // = 6.4·10^11, inside the 2^42 packing contract
  private val value = Gen.chooseNum(-100000L, 100000L, 0L, 1L, -1L)
  private def vector(dims: Int) = Gen.listOfN(dims, value)

  private val inContract: Gen[Case] = for {
    dims <- Gen.choose(1, 16)
    pool <- Gen.nonEmptyListOf(vector(dims)).map(_.take(3))
    k <- Gen.frequency(1 -> Gen.const(0), 2 -> Gen.const(1), 6 -> Gen.choose(2, 8))
    // drawing from a pool of at most 3 makes duplicate centroids (ties) common
    cbs <- Gen.listOfN(k, Gen.frequency(3 -> Gen.oneOf(pool), 1 -> vector(dims)))
    q <- Gen.frequency(1 -> Gen.const(None),
      4 -> vector(dims).map(Some(_)), 1 -> Gen.oneOf(pool).map(Some(_)))
  } yield Case(q, cbs)

  private val ragged: Gen[Case] = for {
    c <- inContract.suchThat(c => c.q.nonEmpty && c.cbs.nonEmpty)
    i <- Gen.choose(0, c.cbs.size - 1)
    extra <- Gen.oneOf(true, false)
    bad = if (extra || c.cbs(i).size == 1) c.cbs(i) :+ 7L else c.cbs(i).init
  } yield c.copy(cbs = c.cbs.updated(i, bad))

  private def interpreted(c: Case): Option[Long] =
    Option(ArgMinSqDist(Literal.create(c.q.orNull, VecT), Literal.create(c.cbs, CbT))
      .eval(null)).map(_.asInstanceOf[Long])

  // RDD-backed rows, so the projection runs in generated code (a local
  // relation would be folded by the interpreted optimizer rule), and
  // CODEGEN_ONLY so a broken doGenCode cannot fall back silently
  private def codegen(cases: Seq[Case]): Seq[Option[Long]] = {
    GraftFunctions.register(spark)
    withCodegenOnly {
      val schema = StructType(Seq(StructField("i", IntegerType),
        StructField("q", VecT), StructField("cbs", CbT)))
      val rows = cases.zipWithIndex.map { case (c, i) => Row(i, c.q.orNull, c.cbs) }
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
        .selectExpr("i", "graft_argmin_sqdist(q, cbs) AS p")
        .collect().sortBy(_.getInt(0))
        .map(r => if (r.isNullAt(1)) None else Some(r.getLong(1))).toSeq
    }
  }

  /** Whether `body` throws with an IllegalArgumentException anywhere in
    * its cause chain (a Spark job wraps the task's exception). */
  private def rejects(body: => Any): Boolean =
    try { body; false } catch {
      case e: Throwable => Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[IllegalArgumentException])
    }

  // failures report the property's label (the offending case), not the
  // whole generated batch
  private def check(prop: Prop, minSuccessful: Int): Unit = {
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(minSuccessful).withInitialSeed(20261017L), prop)
    assert(res.passed, res.status match {
      case Test.Failed(_, labels) => labels.mkString("; ")
      case s => s.toString
    })
  }

  test("graft_argmin_sqdist equals the Scala reference on generated in-contract inputs") {
    val classes = scala.collection.mutable.Set[String]()
    check(Prop.forAllNoShrink(Gen.listOfN(40, inContract)) { cases =>
      cases.foreach { c =>
        if (c.cbs.isEmpty) classes += "empty codebook"
        if (c.cbs.size == 1) classes += "1-row codebook"
        if (c.cbs.distinct.size < c.cbs.size) classes += "duplicate centroids"
        if (c.q.isEmpty) classes += "null vector"
      }
      val got = cases.map(interpreted).zip(codegen(cases))
      val bad = cases.indices.find { i =>
        val want = reference(cases(i).q, cases(i).cbs)
        got(i) != (want, want)
      }
      bad.isEmpty :| bad.map(i => s"${cases(i)}: (interpreted, codegen) = ${got(i)}, " +
        s"reference ${reference(cases(i).q, cases(i).cbs)}").getOrElse("")
    }, minSuccessful = 15)
    assert(classes == Set("empty codebook", "1-row codebook",
      "duplicate centroids", "null vector"), s"generator missed a class: $classes")
  }

  test("graft_argmin_sqdist throws on a ragged codebook on both eval paths") {
    check(Prop.forAllNoShrink(ragged) { c =>
      (rejects(interpreted(c)) && rejects(codegen(Seq(c)))) :| s"accepted $c"
    }, minSuccessful = 10)
  }

  test("the wrap guard catches a single wrap, not a double wrap back into range") {
    // out of contract on purpose: the packing bound is the caller's
    // contract, and the final guard only sees the winning distance.
    // 3037000500² ≈ 9.2234e18 > 2^63 wraps ONCE to a negative sum: caught
    val once = Case(Some(Seq(3037000500L)), Seq(Seq(0L)))
    intercept[ArithmeticException](interpreted(once))
    // (2^32)² = 2^64 wraps TWICE back to 0: a plausible distance, not caught
    val twice = Case(Some(Seq(1L << 32)), Seq(Seq(0L)))
    assert(interpreted(twice) == Some(0L))
    assert(codegen(Seq(twice)) == Seq(Some(0L)))
  }
}
