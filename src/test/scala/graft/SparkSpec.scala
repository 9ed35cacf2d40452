package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  val sfDir = "/root/testdata/sf0.001"

  /** Runs `body` with expression codegen forced (CODEGEN_ONLY), so a
    * broken doGenCode cannot hide behind a silent interpreted fallback. */
  def withCodegenOnly[T](body: => T): T = {
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.get(key, "FALLBACK")
    spark.conf.set(key, "CODEGEN_ONLY")
    try body finally spark.conf.set(key, prev)
  }
}

object SparkSpec {
  lazy val session: SparkSession = Session.local(4)
}
