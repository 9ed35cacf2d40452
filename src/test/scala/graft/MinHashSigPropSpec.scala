package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions.{col, expr, min}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean

import graft.functions.HashFunctions.hashSql
import graft.operators.Dedup
import graft.plans.{GraftFunctions, MinHashSig}

/** Property-based differential check of `graft_minhash16`: generated ASCII
  * texts (short, long, null) evaluated interpreted AND in generated code
  * must equal the declarative explode → min(hash) twin the oracle replays;
  * a non-ASCII byte must throw on both paths.
  */
class MinHashSigPropSpec extends SparkSpec {

  private val K = 16

  // a small alphabet makes repeated shingles (min's duplicate
  // insensitivity) common; the wider draws cover all of ASCII, NUL included
  private val asciiChar: Gen[Char] = Gen.frequency(
    3 -> Gen.oneOf("ab ".toSeq), 2 -> Gen.choose(' ', '~'), 1 -> Gen.choose('\u0000', '\u007f'))
  private val asciiText: Gen[String] = for {
    n <- Gen.frequency(1 -> Gen.choose(0, 5), 2 -> Gen.choose(40, 200))
    cs <- Gen.listOfN(n, asciiChar)
  } yield cs.mkString
  private val text: Gen[Option[String]] =
    Gen.frequency(1 -> Gen.const(None), 6 -> asciiText.map(Some(_)))

  private val nonAscii: Gen[String] = for {
    t <- asciiText
    i <- Gen.choose(0, t.length)
    c <- Gen.oneOf("\u0080", "é", "€", "😀")
  } yield t.take(i) + c + t.drop(i)

  private def interpreted(t: Option[String]): Option[Seq[Long]] =
    Option(MinHashSig(Literal.create(t.orNull, StringType), K).eval(null))
      .map(_.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq)

  private def frame(texts: Seq[Option[String]]) = {
    GraftFunctions.register(spark)
    val schema = StructType(Seq(StructField("i", IntegerType), StructField("text", StringType)))
    val rows = texts.zipWithIndex.map { case (t, i) => Row(i, t.orNull) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  // RDD-backed rows, so the projection runs in generated code, and
  // CODEGEN_ONLY so a broken doGenCode cannot fall back silently
  private def codegen(texts: Seq[Option[String]]): Seq[Option[Seq[Long]]] = {
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.get(key, "FALLBACK")
    spark.conf.set(key, "CODEGEN_ONLY")
    try frame(texts).selectExpr("i", "graft_minhash16(text) AS mh")
      .collect().sortBy(_.getInt(0))
      .map(r => if (r.isNullAt(1)) None else Some(r.getSeq[Long](1))).toSeq
    finally spark.conf.set(key, prev)
  }

  /** The declarative twin (the oracle's shape): distinct 3-gram shingles,
    * 24-bit codes, 16 mins of the universal hash. DuckDB's
    * `range(1, length - 1)` is empty below 3 chars, while Spark's
    * `sequence` counts down there, so the twin keeps the oracle's
    * 3-char floor. Returns i → signature; a doc with no shingles has no row. */
  private def twin(texts: Seq[Option[String]]): Map[Int, Seq[Long]] =
    frame(texts).where("length(text) >= 3")
      .select(col("i"), expr(s"explode(${Dedup.shingleArraySql})").as("sh3"))
      .withColumn("code", expr(Dedup.shingleCodeSql))
      .groupBy("i").agg(min(expr(hashSql(0, "code"))),
        (1 until K).map(p => min(expr(hashSql(p, "code")))): _*)
      .collect().map(r => r.getInt(0) -> (1 to K).map(r.getLong)).toMap

  /** Whether `body` throws with an IllegalArgumentException anywhere in
    * its cause chain (a Spark job wraps the task's exception). */
  private def rejects(body: => Any): Boolean =
    try { body; false } catch {
      case e: Throwable => Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[IllegalArgumentException])
    }

  private def check(prop: Prop, minSuccessful: Int): Unit = {
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(minSuccessful).withInitialSeed(20261018L), prop)
    assert(res.passed, res.status match {
      case Test.Failed(_, labels) => labels.mkString("; ")
      case s => s.toString
    })
  }

  test("graft_minhash16 equals its declarative twin on generated ASCII texts") {
    val classes = scala.collection.mutable.Set[String]()
    check(Prop.forAllNoShrink(Gen.listOfN(30, text)) { texts =>
      texts.foreach {
        case None => classes += "null"
        case Some(t) if t.length < 3 => classes += "short"
        case Some(_) => classes += "long"
      }
      val got = texts.map(interpreted).zip(codegen(texts))
      val want = twin(texts)
      val bad = texts.indices.find(i => got(i) != ((want.get(i), want.get(i))))
      bad.isEmpty :| bad.map(i => s"${texts(i)}: (interpreted, codegen) = ${got(i)}, " +
        s"twin ${want.get(i)}").getOrElse("")
    }, minSuccessful = 15)
    assert(classes == Set("null", "short", "long"), s"generator missed a class: $classes")
  }

  test("graft_minhash16 throws on a non-ASCII byte on both eval paths") {
    check(Prop.forAllNoShrink(nonAscii) { t =>
      (rejects(interpreted(Some(t))) && rejects(codegen(Seq(Some(t))))) :|
        s"accepted ${t.map(c => f"${c.toInt}%04x").mkString(" ")}"
    }, minSuccessful = 10)
  }
}
