package graft

import java.util.regex.Pattern

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean

import graft.operators.FdsnQuery

/** Property-based differential check of FDSN wildcards: `matchesFdsn`
  * evaluated by Spark must agree with a plain `java.util.regex` reference
  * (`*` → any run, `?` → one char, everything else literal) on codes and
  * patterns drawn over an alphabet that includes the LIKE metacharacters
  * `%`, `_` and the escape `\`.
  */
class FdsnWildcardPropSpec extends SparkSpec {

  private case class Case(code: String, pattern: String)

  private val alphabet = Seq('B', 'H', 'Z', '*', '?', '%', '_', '\\', '.')

  private def reference(c: Case): Boolean = {
    val regex = c.pattern.map {
      case '*' => ".*"
      case '?' => "."
      case ch => Pattern.quote(ch.toString)
    }.mkString
    Pattern.compile(regex, Pattern.DOTALL).matcher(c.code).matches()
  }

  private val text = Gen.choose(0, 6).flatMap(Gen.listOfN(_, Gen.oneOf(alphabet))).map(_.mkString)

  // half the patterns are the code with some chars turned into wildcards,
  // so matches are common, not just the trivially empty ones
  private val gen: Gen[Case] = for {
    code <- text
    derived <- Gen.sequence[List[String], String](code.map(ch =>
      Gen.frequency(4 -> Gen.const(ch.toString), 1 -> Gen.const("?"),
        1 -> Gen.const("*"), 1 -> Gen.const("*" + ch))))
    pattern <- Gen.oneOf(text, Gen.const(derived.mkString))
  } yield Case(code, pattern)

  /** Spark's verdict per case, from RDD-backed rows so the predicate runs
    * in generated code, not in the optimizer's constant folding. */
  private def sparkVerdicts(cases: Seq[Case]): Seq[Boolean] = {
    val schema = StructType(Seq(StructField("i", IntegerType), StructField("code", StringType)))
    val rows = cases.zipWithIndex.map { case (c, i) => Row(i, c.code) }
    val matched = cases.indices.foldLeft(lit(null).cast(BooleanType)) { (acc, i) =>
      when(col("i") === i, FdsnQuery.matchesFdsn(col("code"), cases(i).pattern)).otherwise(acc)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .select(col("i"), matched.as("m"))
      .collect().sortBy(_.getInt(0)).map(_.getBoolean(1)).toSeq
  }

  test("matchesFdsn agrees with a regex reference on generated codes and patterns") {
    val classes = scala.collection.mutable.Set[String]()
    val prop = Prop.forAllNoShrink(Gen.listOfN(40, gen)) { cases =>
      cases.foreach { c =>
        if (reference(c)) classes += "match"
        if ("%_\\".exists(c.pattern.contains(_))) classes += "LIKE metachar in pattern"
      }
      val got = sparkVerdicts(cases)
      val bad = cases.indices.find(i => got(i) != reference(cases(i)))
      bad.isEmpty :| bad.map(i => s"${cases(i)}: spark ${got(i)}, " +
        s"reference ${reference(cases(i))}").getOrElse("")
    }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(25).withInitialSeed(20261017L), prop)
    assert(res.passed, res.status match {
      case Test.Failed(_, labels) => labels.mkString("; ")
      case s => s.toString
    })
    assert(classes == Set("match", "LIKE metachar in pattern"),
      s"generator missed a class: $classes")
  }
}
