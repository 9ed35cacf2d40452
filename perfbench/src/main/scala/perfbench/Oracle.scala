package perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** Lets run.py evaluate the registry's DuckDB oracle SQL while the JVM warms
  * up, instead of after the run. Once the inputs exist the runner publishes
  * the tables and the SQL of each stage; before it starts measuring it waits
  * until run.py has removed the `oracle.pending` file it created, so the
  * oracle never competes with the measured window. Without that file (the
  * runner started by hand) nothing waits.
  */
object Oracle {
  val MaxWaitSeconds = 120

  def publish(work: String, tables: String, keys: Seq[String]): Unit = {
    val stages = keys.map { k =>
      Json.obj("key" -> Json.str(k), "sql" -> SparkEntry.oracleSql.get(k).map(Json.str).getOrElse("null"))
    }
    val tmp = Paths.get(s"$work/oracle-inputs.json.tmp")
    Files.writeString(tmp, Json.obj("tables" -> Json.str(tables), "stages" -> Json.arr(stages)))
    Files.move(tmp, Paths.get(s"$work/oracle-inputs.json"))
  }

  def await(work: String): Unit = {
    val pending = Paths.get(s"$work/oracle.pending")
    val deadline = System.nanoTime() + MaxWaitSeconds * 1000000000L
    while (Files.exists(pending)) {
      require(System.nanoTime() < deadline, s"oracle still running after $MaxWaitSeconds s")
      Thread.sleep(20)
    }
  }
}
