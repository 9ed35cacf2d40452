package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._

/** Index-store layout (Jane: PostgreSQL tables; graft: partitioned parquet).
  *
  * The store is written day-partitioned on event time, so a predicate on
  * `p_day` (FdsnQuery.events derives one from its time window) prunes
  * partitions at planning: the scan reads only the in-window day
  * directories. [[read]] still LISTS every day directory, and a compacted
  * store is flat (p_day is a data column), so there the bound only skips
  * row groups. Bucketing on the key columns (saveAsTable path)
  * additionally co-locates the frequent joins.
  *
  * Publish protocol (Jane's rule: a re-upload supersedes the old version
  * and no reader ever sees a half-written store). Every store write goes
  * through [[publish]], which runs, in order:
  *  1. heal — `path` missing and `path.old` present means a prior swap
  *     was interrupted after the move-aside, so `.old` IS the store and
  *     is renamed back ([[heal]]; a failed heal aborts);
  *  1. write — the caller's writer fills a UNIQUE `path.install-<id>`
  *     sibling (two concurrent publishers never share scratch);
  *  1. move aside — `path` → `path.old`;
  *  1. install — `path.install-<id>` → `path`, then `.old` is deleted;
  *  1. sweep — `.install-` siblings over an hour old are deleted
  *     ([[sweepScratch]], also run by [[buildIfStale]]).
  * At every instant `path` or `path.old` holds a complete store. The one
  * failure rule: on any failure publish deletes its scratch dir and
  * rethrows. A failure after the move-aside leaves the prior generation
  * in `path.old`, which the next publish heals. The only scratch that
  * outlives a publish is an orphan of a crashed JVM, which the sweep
  * reclaims once it is an hour old (a younger one may be a concurrent
  * writer's).
  */
object ParquetStore {

  /** Write `df` partitioned by the calendar day of `tsCol`, via [[publish]]. */
  def writeDayPartitioned(df: DataFrame, tsCol: String, path: String): Unit =
    installOverwritePartitioned(df.withColumn("p_day", to_date(col(tsCol))), path, "p_day")

  /** The one parquet reader: plans `path` (a file, a flat store or a
    * hive-partitioned one) with no Spark job. `spark.read.parquet`
    * infers the data schema in a job that reads one footer; here the
    * driver reads the first visible data file's footer and converts it
    * with the session's parquet confs, the same function that job runs
    * when schemas are not merged (Spark's default, which graft keeps).
    * Partition columns are still inferred from directory names, so
    * columns and types are unchanged. A missing or empty path takes
    * Spark's own path and so its errors. The schema is read on every call.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    firstDataFile(spark, path) match {
      case Some(file) =>
        val footer = new Footer(file, ParquetFooterReader.readFooter(
          HadoopInputFile.fromPath(file, hadoopConf(spark)), ParquetMetadataConverter.SKIP_ROW_GROUPS))
        val converter = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
        spark.read.schema(ParquetFileFormat.readSchemaFromFooter(footer, converter)).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** The first data file under `path` in name order, skipping the names
    * Spark's file listing hides (`_`/`.` prefixes; hive `k=v` dirs kept). */
  private def firstDataFile(spark: SparkSession, path: String): Option[Path] = {
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf(spark))
    def visible(st: FileStatus): Boolean = {
      val n = st.getPath.getName
      !(n.startsWith("_") && !n.contains("=")) && !n.startsWith(".")
    }
    def first(st: FileStatus): Option[Path] =
      if (st.isFile) Some(st.getPath)
      else fs.listStatus(st.getPath).filter(visible).sortBy(_.getPath.getName)
        .iterator.flatMap(first).nextOption()
    if (fs.exists(p)) first(fs.getFileStatus(p)) else None
  }

  /** Small-files compaction — the maintenance pass every continuously
    * ingested store needs: streaming micro-batches, upserts, and wide
    * per-task writers accumulate many tiny files, and at 100 TB scan
    * throughput dies on per-file open/footer overhead and undersized row
    * groups (plus a listing/metadata entry per file). Rewrites the store
    * as ceil(bytes / targetBytes) files through [[publish]] (whose heal
    * runs before the size read). Compaction is pure layout —
    * content-identical by construction (spec-asserted). Returns the
    * target file count.
    */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L << 20): Int =
    publish(spark, path) { tmp =>
      val p = new Path(path)
      val bytes = p.getFileSystem(hadoopConf(spark)).getContentSummary(p).getLength
      val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      read(spark, path).repartition(n)
        .write.mode(SaveMode.Overwrite).parquet(tmp)
      n
    }

  /** Overwrite-install `df` at `path` through [[publish]].
    * SaveMode.Overwrite onto the live path deletes the target first and
    * then writes file by file — a concurrent reader of the same fixed
    * store path (Verify and Bench on one SF) can plan against part files
    * that vanish mid-write; here the new store becomes visible in one
    * rename.
    */
  def installOverwrite(df: DataFrame, path: String): Unit =
    publish(df.sparkSession, path)(tmp =>
      df.write.mode(SaveMode.Overwrite).parquet(tmp))

  /** [[installOverwrite]] for a TEXT feed: CSV with a per-file header
    * (the reader's `header=true` skips one line per part file, so a
    * header written per file is the only layout that survives an
    * arbitrary partition count).
    */
  def installOverwriteCsv(df: DataFrame, path: String): Unit =
    publish(df.sparkSession, path)(tmp =>
      df.write.mode(SaveMode.Overwrite).option("header", "true").csv(tmp))

  /** [[installOverwrite]] for a raw LINE feed (one record per line —
    * the JSON-lines ingest shape): `df` must be a single STRING column.
    * No per-file header concerns (text has no header row). */
  def installOverwriteText(df: DataFrame, path: String): Unit =
    publish(df.sparkSession, path)(tmp =>
      df.write.mode(SaveMode.Overwrite).text(tmp))

  /** [[installOverwrite]] to ORC (the columnar interchange format
    * [[Ingest.readOrcEvents]] reads back). */
  def installOverwriteOrc(df: DataFrame, path: String): Unit =
    publish(df.sparkSession, path)(tmp =>
      df.write.mode(SaveMode.Overwrite).orc(tmp))

  /** [[installOverwrite]] to XML via Spark 4.1's native XML writer (one
    * `rowTag` element per row, every part file wrapped in its own
    * `rootTag` document). The per-file ROOT is load-bearing, not
    * cosmetic — measured on this Spark (r19, ProbeXml): a file that is
    * just repeated rowTag elements with no enclosing root parses its
    * FIRST element and swallows the rest into one corrupt record, so a
    * text-lines install (the JSON-feed shape) cannot carry XML. The
    * writer is the only layout that keeps every file a well-formed
    * document under an arbitrary partition count — the same per-file
    * concern [[installOverwriteCsv]] solves for headers. */
  def installOverwriteXml(df: DataFrame, path: String,
      rowTag: String, rootTag: String): Unit =
    publish(df.sparkSession, path)(tmp =>
      df.write.mode(SaveMode.Overwrite).format("xml")
        .option("rowTag", rowTag).option("rootTag", rootTag).save(tmp))

  /** [[installOverwrite]] PARTITIONED by columns (hive-style
    * `col=value/` subdirectories): the layout that turns a time-travel
    * or day-scoped predicate into PARTITION PRUNING at the scan — the
    * pruned directories are never listed into the plan, so a query for
    * day <= T reads |T| partitions of a 100 TB store instead of
    * filtering all of it. The partition dirs move with their parent. */
  def installOverwritePartitioned(df: DataFrame, path: String,
      partitionCols: String*): Unit =
    publish(df.sparkSession, path)(tmp =>
      df.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(tmp))

  private def hadoopConf(spark: SparkSession) = spark.sparkContext.hadoopConfiguration

  /** Step 1 of the publish protocol: if the store at `path` is missing
    * and `path.old` exists, an interrupted swap left the complete store
    * aside — rename it back. A failed heal throws: proceeding would read
    * "store absent" and then delete the only copy. Idempotent.
    */
  private[graft] def heal(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val old = new Path(s"$path.old")
    val fs = p.getFileSystem(hadoopConf(spark))
    if (!fs.exists(p) && fs.exists(old) && !fs.rename(old, p))
      throw new java.io.IOException(s"publish: cannot heal $old -> $p")
  }

  /** The one store-publish path (protocol in the [[ParquetStore]] doc):
    * heal, run `write` on a unique `path.install-<id>` scratch dir, move
    * the live store aside, install the scratch dir, sweep. Returns what
    * `write` returned. `write` may read the live store at `path` — it is
    * only moved after `write` returns.
    */
  private[graft] def publish[T](spark: SparkSession, path: String)(
      write: String => T): T = {
    heal(spark, path)
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf(spark))
    val tmp = new Path(s"$path.install-${java.util.UUID.randomUUID().toString.take(8)}")
    val old = new Path(s"$path.old")
    try {
      val out = write(tmp.toString)
      if (fs.exists(old)) fs.delete(old, true)
      if (fs.exists(p) && !fs.rename(p, old))
        throw new java.io.IOException(s"publish: cannot move $path aside")
      if (!fs.rename(tmp, p))
        throw new java.io.IOException(s"publish: cannot install $tmp at $path")
      fs.delete(old, true)
      sweepScratch(fs, p)
      out
    } finally {
      // a no-op once the install consumed tmp; a failed delete is logged
      // so that it never replaces the primary exception
      try if (fs.exists(tmp)) fs.delete(tmp, true)
      catch { case e: Throwable => System.err.println(s"publish cleanup ($tmp): $e") }
    }
  }

  /** Newest modification time at or under `p`. A long Spark write lands
    * its task output under `_temporary/` while the scratch dir keeps its
    * creation mtime, so the age gate keys off the recursive max.
    */
  private def newestMtime(fs: FileSystem, p: Path): Long = {
    val st = fs.getFileStatus(p)
    var mx = st.getModificationTime
    if (st.isDirectory)
      fs.listStatus(p).foreach { c =>
        mx = math.max(mx, newestMtime(fs, c.getPath))
      }
    mx
  }

  /** Delete every `<name>.install-*` sibling of store path `p` whose
    * [[newestMtime]] is over an hour old: an orphan of a crashed JVM. A
    * younger sibling may be another JVM's in-flight write for the same
    * path (Verify and Bench can share a store) and is left alone. A
    * sibling that a concurrent sweep removes first is skipped. Never
    * throws: reclaiming scratch must not fail a publish or a serve.
    */
  private def sweepScratch(fs: FileSystem, p: Path): Unit =
    try {
      val parent = p.getParent
      if (parent != null && fs.exists(parent)) {
        val cutoff = System.currentTimeMillis() - 3600L * 1000
        fs.listStatus(parent)
          .filter(_.getPath.getName.startsWith(s"${p.getName}.install-"))
          .filter(st =>
            try newestMtime(fs, st.getPath) < cutoff
            catch { case _: java.io.FileNotFoundException => false })
          .foreach(st => fs.delete(st.getPath, true))
      }
    } catch { case e: Throwable =>
      System.err.println(s"publish scratch sweep ($p): $e") }

  /** Source-content stamp for store-staleness markers: a digest of the
    * (name, length, mtime) of every file under the source table —
    * METADATA-only, no scan. A driver-side regeneration that keeps row
    * counts but changes bytes (the r7→r8 events.ts pattern) changes the
    * stamp, where a count-only marker would silently validate a store
    * built from the previous generation.
    */
  def sourceStamp(path: String): String = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) return "missing"
    val walk = java.nio.file.Files.walk(root)
    try {
      val items = walk.iterator()
      val crc = new java.util.zip.CRC32()
      val lines = scala.collection.mutable.ArrayBuffer.empty[String]
      while (items.hasNext) {
        val f = items.next()
        if (java.nio.file.Files.isRegularFile(f))
          lines += s"${root.relativize(f)}:${java.nio.file.Files.size(f)}:" +
            s"${java.nio.file.Files.getLastModifiedTime(f).toMillis}"
      }
      lines.sorted.foreach(l => crc.update(l.getBytes("UTF-8")))
      java.lang.Long.toHexString(crc.getValue)
    } finally walk.close()
  }

  /** The serving-store build-once guard (d34/d35/t36 convention, held in
    * ONE place): when the marker file matches `want` and every store
    * path exists, the build is skipped; otherwise `build` runs and the
    * marker publishes LAST — stores install atomically first, so a
    * failed build never validates.
    */
  def buildIfStale(metaPath: String, want: String, storePaths: Seq[String])(
      build: => Unit): Unit = {
    val meta = java.nio.file.Paths.get(metaPath)
    val valid = java.nio.file.Files.exists(meta) &&
      new String(java.nio.file.Files.readAllBytes(meta), "UTF-8") == want &&
      storePaths.forall(p => new java.io.File(p).exists)
    // sweep on both branches, before any build: a store whose build
    // keeps failing is never installed, so no publish would sweep it
    try {
      val conf = SparkSession.getActiveSession
        .map(_.sparkContext.hadoopConfiguration)
        .getOrElse(new org.apache.hadoop.conf.Configuration())
      storePaths.foreach { sp =>
        val p = new Path(new java.io.File(sp).getAbsolutePath)
        sweepScratch(p.getFileSystem(conf), p)
      }
    } catch { case e: Throwable =>
      System.err.println(s"buildIfStale scratch sweep ($metaPath): $e") }
    if (!valid) {
      build
      java.nio.file.Files.createDirectories(meta.getParent)
      java.nio.file.Files.write(meta, want.getBytes("UTF-8"))
      // A rebuild swaps the files under storePaths; any table already
      // registered over one of them (registerBucketed) would keep a
      // cached file index pointing at the deleted generation — a later
      // serve could FileNotFound or read stale data (r13 ADVICE).
      // refreshByPath invalidates exactly the relations rooted at the
      // swapped paths; no-op when nothing is registered.
      org.apache.spark.sql.SparkSession.getActiveSession.foreach { s =>
        storePaths.foreach(p =>
          s.catalog.refreshByPath(new java.io.File(p).getAbsolutePath))
      }
    }
  }

  /** Write a table bucketed (and sorted) on its join key at `path`,
    * through [[publish]]. Two tables bucketed the same way join with NO
    * shuffle on either side — at 100 TB the lineitem⋈orders join becomes
    * a per-bucket sort-merge with zero network movement, paid once at
    * write time instead of per query. The bucketed writer only runs
    * through `saveAsTable`, so the files are written via a throwaway
    * catalog entry pointing at the scratch dir, and the entry is dropped
    * (external — metadata only, the files stay). Bucket-id file naming
    * survives the rename, so [[registerBucketed]] can attach the layout
    * in any later session. Pairs with [[buildIfStale]] for the
    * pay-once-at-write lifecycle.
    */
  def writeBucketedAt(df: DataFrame, path: String, bucketCol: String,
      buckets: Int): Unit = {
    val s = df.sparkSession
    val scratch = s"graft_bucketed_build_${java.util.UUID.randomUUID().toString.take(8)}"
    publish(s, path) { tmp =>
      // the throwaway catalog entry is dropped on ANY failure path (r13
      // ADVICE: repeated failed builds must not accumulate junk in the
      // session catalog); the guarded finally DROP on a broken/stopped
      // session must never mask the primary exception
      try {
        df.write.mode(SaveMode.Overwrite)
          .format("parquet")
          .option("path", tmp)
          .bucketBy(buckets, bucketCol)
          .sortBy(bucketCol)
          .saveAsTable(scratch)
        s.sql(s"DROP TABLE IF EXISTS $scratch")
      } finally {
        try s.sql(s"DROP TABLE IF EXISTS $scratch")
        catch { case e: Throwable =>
          System.err.println(s"writeBucketedAt cleanup ($scratch): $e") }
      }
    }
  }

  /** Attach an existing [[writeBucketedAt]] store to THIS session's
    * catalog (the in-memory catalog forgets tables between JVMs; the
    * bucketed layout on disk does not). Metadata-only — no scan, no
    * write: the CREATE TABLE declares the same CLUSTERED/SORTED spec
    * the files were written with, so co-bucketed joins plan with zero
    * Exchange in every session that reads the store. No-op when the
    * table is already registered.
    */
  def registerBucketed(spark: SparkSession, table: String, path: String,
      schemaDdl: String, bucketCol: String, buckets: Int): Unit =
    if (!spark.catalog.tableExists(table))
      spark.sql(
        s"""CREATE TABLE $table ($schemaDdl) USING PARQUET
           |CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol) INTO $buckets BUCKETS
           |LOCATION '$path'""".stripMargin)
}
