package graft
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
    val spark = Session.local(Session.envCpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => selected(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      Session.freeBlocks(spark)
    }
    def q(s: String): String = "\"" + Bench.jsonEsc(s) + "\""
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
