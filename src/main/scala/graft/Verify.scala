package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd+ args: dump only the named queries, by full name or
    // key prefix (`d20` selects `d20_pq_ann`) — an iteration aid;
    // oracle_sql.json still carries every oracle so check.py stays usable
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    def selected(name: String) =
      only.isEmpty || only.exists(k => name == k || name.startsWith(k + "_"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // as Bench (r12): the default 100-entry codegen-class cache
      // thrashes across a 194-query run — pure wall-clock waste here
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the per-query unpersist below WARNs once per removed checkpoint
    // RDD (expected — the blocks are dead); keep real errors visible
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => selected(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // free this query's localCheckpoint blocks (same hygiene as Bench:
      // nothing reuses blocks across queries, and leaked blocks taxed
      // late-run queries with storage eviction/GC in r10's driver roll)
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // advertise the bench's capture-proof sidecar (r21, the r20 verdict
    // item 3) so a tail-limited stdout capture knows where the complete
    // one-line roll JSON lives
    println(s"[verify] bench sidecar: ${Bench.SidecarPath}")
    spark.stop()
  }
}
