package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line options; run.py passes all of them. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    cpus: Int, work: String, out: String, spans: String)

/** What one run reports back to run.py. */
final class RunResult {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String]
  /** Stage outputs run.py compares with the registry's DuckDB oracle SQL. */
  val oracle = mutable.ArrayBuffer.empty[String]

  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failures.size < 10) failures += what
    }
  }

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  def toJson: String = Json.obj(
    "attempted" -> Json.num(attempted.toDouble),
    "failed" -> Json.num(failed.toDouble),
    "failures" -> Json.arr(failures.map(Json.str)),
    "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
      k -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u))
    }: _*),
    "info" -> Json.obj(info.toSeq: _*),
    "oracle" -> Json.arr(oracle))
}

/** Runs one workload against graft's public API and writes a [[RunResult]].
  * Inputs come from `--seed` only; the library sees generated tables and
  * request parameters, never the workload name.
  */
object Main {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      get("cpus").toInt, get("work"), get("out"), get("spans"))
  }

  /** Configured as graft.Bench configures its session. */
  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    s
  }

  /** Peak resident set of this JVM, from /proc (Linux). */
  def peakRssMb(): Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists) Double.NaN
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
      finally src.close()
    }
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = Harness.phase("session")(session(o))
    val res = new RunResult
    try {
      o.workload match {
        case "fdsn_serve" => Serving.run(spark, o, res, ingest = false)
        case "ingest_mixed" => Serving.run(spark, o, res, ingest = true)
        case "curate_batch" => Curate.run(spark, o, res)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      res.info("peak_rss_mb") = Json.num(peakRssMb())
      java.nio.file.Files.writeString(java.nio.file.Paths.get(o.out), res.toJson)
    } finally spark.stop()
  }
}
