package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The one SparkSession factory. Bench, Verify, Explain, the specs and the
  * dev profiler all build their session here, so the plans Explain prints
  * are the plans Bench times and Verify checks.
  */
object Session {

  /** Core count of the runner mains: `SPARK_GRAFT_CPUS`, default 4. */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)

  /** A local session on `cpus` cores, one shuffle partition per core. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Codegen-class cache sized for a 194-query roll (r12): the
      // default 100 entries hold ~2 queries' worth of generated
      // classes, so every query late in the run recompiles (janino)
      // and re-JITs classes an earlier run already produced — and a
      // codegen-heavy query (t37: ~20 jobs/pass loop) can evict its
      // own pass-0 classes before its timed rep. Static conf, must be
      // set before the session exists. Memory cost is generated-class
      // metadata only (metaspace), well inside the 24g/1g-codecache
      // JVM documented in build.sbt.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // freeBlocks makes Spark WARN once per removed localCheckpoint RDD
    // ("lineage has been truncated...") — expected and intended (the
    // blocks are dead), but hundreds of lines per run; keep the rdd
    // package at ERROR so real failures still print.
    Configurator.setLevel("org.apache.spark.rdd", Level.ERROR)
    spark
  }

  /** Unpersists every persistent RDD, blocking.
    *
    * Block hygiene (r11, the driver-roll t37 cap postmortem): every
    * execution's localCheckpoint blocks otherwise leak until the DRIVER
    * JVM happens to GC (ContextCleaner is weak-reference driven, and the
    * 24g heap makes full GCs rare) — late in a 194-query run hundreds of
    * dead checkpoint RDDs occupy storage memory and a big cold allocator
    * pays their eviction/GC bill, which is exactly where r10's driver
    * roll 7x'd t37's cold pass (7.9 s builder / 54.9 s driver). Explicit
    * unpersist after each execution removes the GC-timing dependence;
    * nothing in a query reuses blocks across executions (each call
    * builds fresh frames; cross-run reuse goes through /tmp/graft_stores
    * parquet, not block storage), so this is timing-neutral on the
    * measured work. BLOCKING since r12 (ADVICE): elapsed is captured
    * before the call, so blocking cannot pollute the finished
    * measurement — but a non-blocking removal could still be running
    * during the NEXT rep's timed window.
    */
  def freeBlocks(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
}
