package graft

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions.{col, expr, min}
import org.apache.spark.sql.types.StringType
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.propBoolean

import graft.functions.HashFunctions.hashSql
import graft.operators.Dedup
import graft.plans.MinHashSig

/** Property-based differential check of `graft_minhash16`: generated ASCII
  * texts (short, long, null) evaluated interpreted AND in generated code
  * must equal the declarative explode → min(hash) twin the oracle replays;
  * a non-ASCII byte must throw on both paths.
  */
class MinHashSigPropSpec extends TextKernelProps {

  private val K = 16

  private def interpreted(t: Option[String]): Option[Seq[Long]] =
    Option(MinHashSig(Literal.create(t.orNull, StringType), K).eval(null))
      .map(_.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq)

  private def codegen(texts: Seq[Option[String]]): Seq[Option[Seq[Long]]] =
    codegenRows(texts, "graft_minhash16(text) AS mh")
      .map(r => if (r.isNullAt(1)) None else Some(r.getSeq[Long](1)))

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

  test("graft_minhash16 equals its declarative twin on generated ASCII texts") {
    val classes = scala.collection.mutable.Set[String]()
    check(Prop.forAllNoShrink(Gen.listOfN(30, text(shortMax = 5))) { texts =>
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
    check(Prop.forAllNoShrink(nonAscii(shortMax = 5)) { t =>
      (rejects(interpreted(Some(t))) && rejects(codegen(Seq(Some(t))))) :|
        s"accepted ${t.map(c => f"${c.toInt}%04x").mkString(" ")}"
    }, minSuccessful = 10)
  }
}
