package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.ParquetStore

/** Parquet-backed table loaders.
  *
  * Jane keeps its document indices in PostgreSQL; graft keeps them in
  * parquet and lets the scan push filters/projections down. All loaders go
  * through here so a partitioned/bucketed store can be swapped in without
  * touching query code.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    ParquetStore.read(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** `events.ts` has shipped as both TIMESTAMP(NANOS) and timestamp[us]
    * parquet across driver testdata generations, so the loader is
    * schema-adaptive: it reads with the legacy nanos-as-long conf enabled
    * (a no-op for non-nanos files) and branches on the type Spark actually
    * resolved. Every branch normalizes to a µs-precision TimestampType
    * column; second/day-granularity comparisons against the oracle stay
    * exact either way (sessions pin spark.sql.session.timeZone=UTC, so the
    * NTZ→TZ cast is value-preserving).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType    => raw
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case other =>
        throw new IllegalStateException(s"events.ts: unexpected parquet type $other")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
