package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean

import graft.operators.Dedup
import graft.plans.{GraftFunctions, ShingleHashes, WinnowFps}
import graft.queries.TextQueries

/** Generators and both eval paths shared by the byte-walking text kernels'
  * property specs.
  */
trait TextKernelProps extends SparkSpec {

  // a small alphabet makes repeated shingles (min's duplicate
  // insensitivity) common; the wider draws cover all of ASCII, NUL included
  protected val asciiChar: Gen[Char] = Gen.frequency(
    3 -> Gen.oneOf("ab ".toSeq), 2 -> Gen.choose(' ', '~'), 1 -> Gen.choose('\u0000', '\u007f'))
  protected def asciiText(shortMax: Int): Gen[String] = for {
    n <- Gen.frequency(1 -> Gen.choose(0, shortMax), 2 -> Gen.choose(40, 200))
    cs <- Gen.listOfN(n, asciiChar)
  } yield cs.mkString
  protected def text(shortMax: Int): Gen[Option[String]] =
    Gen.frequency(1 -> Gen.const(None), 6 -> asciiText(shortMax).map(Some(_)))

  protected def nonAscii(shortMax: Int): Gen[String] = for {
    t <- asciiText(shortMax)
    i <- Gen.choose(0, t.length)
    c <- Gen.oneOf("\u0080", "é", "€", "😀")
  } yield t.take(i) + c + t.drop(i)

  protected def frame(texts: Seq[Option[String]]): DataFrame = {
    GraftFunctions.register(spark)
    val schema = StructType(Seq(StructField("i", IntegerType), StructField("text", StringType)))
    val rows = texts.zipWithIndex.map { case (t, i) => Row(i, t.orNull) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  // RDD-backed rows, so the projection runs in generated code, and
  // CODEGEN_ONLY so a broken doGenCode cannot fall back silently
  protected def codegenRows(texts: Seq[Option[String]], exprs: String*): Seq[Row] = {
    withCodegenOnly(frame(texts).selectExpr("i" +: exprs: _*).collect().sortBy(_.getInt(0)).toSeq)
  }

  /** Whether `body` throws with an IllegalArgumentException anywhere in
    * its cause chain (a Spark job wraps the task's exception). */
  protected def rejects(body: => Any): Boolean =
    try { body; false } catch {
      case e: Throwable => Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[IllegalArgumentException])
    }

  protected def check(prop: Prop, minSuccessful: Int): Unit = {
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(minSuccessful).withInitialSeed(20261018L), prop)
    assert(res.passed, res.status match {
      case Test.Failed(_, labels) => labels.mkString("; ")
      case s => s.toString
    })
  }
}

/** Property-based differential check of the byte-walking shingle,
  * fingerprint, winnow and simhash kernels: on generated ASCII texts (empty,
  * shorter than the n-gram, 40-200 chars, null) the interpreted and the
  * generated-code paths must equal the declarative twin the oracles
  * replay; a non-ASCII byte must throw on both paths.
  */
class TextKernelsPropSpec extends TextKernelProps {

  /** A registered kernel and its twin, both normalised to a sorted
    * sequence of longs per text (a fingerprint is a one-element sequence,
    * null stays None). */
  private case class Kernel(fn: String, twin: Seq[Option[String]] => Seq[Option[Seq[Long]]])

  private def norm(v: Any): Option[Seq[Long]] = v match {
    case null => None
    case a: ArrayData => Some(a.toLongArray().toSeq.sorted)
    case s: scala.collection.Seq[_] => Some(s.map(_.asInstanceOf[Long]).toSeq.sorted)
    case l: Long => Some(Seq(l))
  }

  private def registered(fn: String, child: Expression): Expression =
    GraftFunctions.builders.find(_._1.funcName == fn).get._3(Seq(child))

  private def interpreted(fn: String, t: Option[String]): Option[Seq[Long]] =
    norm(registered(fn, Literal.create(t.orNull, StringType)).eval(null))

  /** One twin column per text, in text order. */
  private def rowTwin(sql: String)(texts: Seq[Option[String]]): Seq[Option[Seq[Long]]] =
    frame(texts).selectExpr("i", s"$sql AS v").collect().sortBy(_.getInt(0))
      .map(r => norm(r.get(1))).toSeq

  /** An exploded (doc_id, value) twin regrouped per text: a null text has
    * no output, any other text the (possibly empty) set of its values. */
  private def docTwin(values: DataFrame => DataFrame)(
      texts: Seq[Option[String]]): Seq[Option[Seq[Long]]] = {
    val got = values(frame(texts).withColumnRenamed("i", "doc_id")).collect()
      .groupBy(_.getInt(0)).map { case (i, rs) => i -> rs.map(_.getLong(1)).toSeq.sorted }
    texts.indices.map(i => texts(i).map(_ => got.getOrElse(i, Seq.empty)))
  }

  // graft_winnow13p packs (fp, gpos) as fp * c + (c - 1 - gpos)
  private val winC = registered("graft_winnow13p", Literal("")).asInstanceOf[WinnowFps].c

  private val kernels = Seq(
    Kernel("graft_shingles3", rowTwin(s"sort_array(${Dedup.shingleCodesArraySql})")),
    Kernel("graft_shingles13", rowTwin(s"sort_array(${TextQueries.shingleHash13ArraySpark})")),
    Kernel("graft_fingerprint", rowTwin(graft.functions.TextFunctions.fingerprintSpark)),
    Kernel("graft_winnow13", docTwin(TextQueries.winnowFpsDeclarative(_))),
    Kernel("graft_winnow13p", docTwin(TextQueries.winnowFpsPosDeclarative(_)
      .selectExpr("doc_id", s"fp * $winC + ($winC - 1 - gpos)"))),
    Kernel("graft_simhash32", docTwin(df => Dedup.simHashDeclarative(
      df.withColumn("n_chars", lit(0)), 32).select("doc_id", "simhash"))))

  test("shingle, fingerprint and winnow kernels equal their declarative twins on ASCII texts") {
    val classes = scala.collection.mutable.Set[String]()
    check(Prop.forAllNoShrink(Gen.listOfN(20, text(shortMax = 12))) { texts =>
      texts.foreach {
        case None => classes += "null"
        case Some("") => classes += "empty"
        case Some(t) if t.length < 13 => classes += "short"
        case Some(_) => classes += "long"
      }
      val gen = codegenRows(texts, kernels.map(k => s"${k.fn}(text)"): _*)
      val bad = kernels.zipWithIndex.flatMap { case (k, c) =>
        val want = k.twin(texts)
        texts.indices.collect {
          case i if (interpreted(k.fn, texts(i)), norm(gen(i).get(c + 1))) != ((want(i), want(i))) =>
            s"${k.fn}(${texts(i)}): interpreted ${interpreted(k.fn, texts(i))}, " +
              s"codegen ${norm(gen(i).get(c + 1))}, twin ${want(i)}"
        }
      }
      bad.isEmpty :| bad.headOption.getOrElse("")
    }, minSuccessful = 8)
    assert(classes == Set("null", "empty", "short", "long"), s"generator missed a class: $classes")
  }

  test("shingle, fingerprint and winnow kernels throw on a non-ASCII byte on both eval paths") {
    check(Prop.forAllNoShrink(nonAscii(shortMax = 12)) { t =>
      val accepted = kernels.map(_.fn).filterNot(fn =>
        rejects(interpreted(fn, Some(t))) && rejects(codegenRows(Seq(Some(t)), s"$fn(text)")))
      accepted.isEmpty :|
        s"${accepted.mkString(", ")} accepted ${t.map(c => f"${c.toInt}%04x").mkString(" ")}"
    }, minSuccessful = 6)
  }

  test("shingle and winnow kernels reject a modulus that is not a power of two") {
    // compute reduces by mask, so analysis must refuse any other modulus
    val t = Literal("abc")
    val ok = Seq(ShingleHashes(t, 3, 256L, 1L << 32),
      WinnowFps(t, 13, 31L, 1L << 56, 8, 1L << 40, 1L << 20))
    val bad = Seq(ShingleHashes(t, 3, 256L, (1L << 32) - 1),
      WinnowFps(t, 13, 31L, 3L << 50, 8, 1L << 40, 1L << 20),
      WinnowFps(t, 13, 31L, 1L << 56, 8, 1000000007L, 1L << 20))
    assert(ok.forall(_.checkInputDataTypes().isSuccess))
    assert(bad.forall(_.checkInputDataTypes().isFailure))
  }
}
