package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
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
  *  1. sweep — stale `.install-` siblings are reclaimed
  *     ([[sweepInstallScratch]]).
  * At every instant `path` or `path.old` holds a complete store. A
  * failure before the move-aside deletes the scratch dir. Kept-copy rule:
  * a failure AFTER the move-aside (no `path`, a fully written scratch dir)
  * keeps the scratch dir — it is the freshest complete copy — and records
  * its name in the `path.install-kept` marker, so the next successful
  * publish (or a valid-marker serve) reclaims exactly that copy.
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
    // tmp is deleted on ANY failure path (r13 ADVICE: a write that
    // throws before the swap must not leak .install-<uuid> scratch
    // dirs under /tmp/graft_stores); after a successful swap the
    // rename has consumed tmp and the finally is a no-op. The cleanup
    // itself is guarded so a delete failure (file still held by a
    // terminating task) can never REPLACE the primary exception.
    // EXCEPT (r14, the r13 ADVICE): if the failure happened AFTER the
    // live store was renamed aside — `path` absent, fully-written tmp
    // present — tmp is the freshest complete copy and deleting it would
    // leave only `.old`; keep it and log its path so recovery doesn't
    // depend solely on the heal rule or a rebuild.
    var written = false // tmp is COMPLETE only once write returned
    try {
      val out = write(tmp.toString)
      written = true
      if (fs.exists(old)) fs.delete(old, true)
      if (fs.exists(p) && !fs.rename(p, old))
        throw new java.io.IOException(s"publish: cannot move $path aside")
      if (!fs.rename(tmp, p))
        throw new java.io.IOException(s"publish: cannot install $tmp at $path")
      fs.delete(old, true)
      // the new generation is live: reclaim stale install scratch (a
      // prior failed swap's kept recovery copy, age-expired siblings)
      sweepInstallScratch(fs, p)
      out
    } finally {
      try if (fs.exists(tmp)) {
        if (!written || fs.exists(p)) fs.delete(tmp, true)
        else {
          System.err.println(
            s"install: swap failed after move-aside; keeping fresh build at " +
              s"$tmp (prior generation at $old)")
          // record WHICH sibling is the kept recovery copy (r15 ADVICE):
          // a later successful install (or a valid-marker serve) can
          // then reclaim exactly this dir REGARDLESS of age — within
          // the 1 h gate the common failed-swap-then-quick-rebuild
          // sequence otherwise leaks the full-store copy forever once
          // the store's staleness marker validates. The marker is
          // written only for a COMPLETE tmp (written = true), so the
          // recorded dir can never be an in-flight write. A SECOND
          // consecutive failed swap must not orphan the first kept
          // copy by overwriting its record (r15 review): this newer
          // complete tmp supersedes it, so the previously recorded
          // copy is reclaimed before the marker is rewritten.
          try {
            val marker = keptMarker(p)
            if (fs.exists(marker)) {
              val prev = readKeptMarker(fs, marker)
              if (prev.startsWith(s"${p.getName}.install-") &&
                  prev != tmp.getName) {
                val dir = new org.apache.hadoop.fs.Path(p.getParent, prev)
                if (fs.exists(dir)) fs.delete(dir, true)
              }
            }
            val out = fs.create(marker, true)
            try out.write(tmp.getName.getBytes("UTF-8")) finally out.close()
          } catch { case e: Throwable =>
            System.err.println(s"install kept-copy marker ($tmp): $e") }
        }
      } catch { case e: Throwable =>
        System.err.println(s"install cleanup ($tmp): $e") }
    }
  }

  /** `$path.install-kept` — names the recovery copy a failed swap kept. */
  private def keptMarker(p: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(p.getParent, s"${p.getName}.install-kept")

  /** The dir name a kept-copy marker records ("" when unreadable).
    * Reads until EOF (r16, the r15 ADVICE): the single-read contract is
    * not guaranteed by FSDataInputStream — a short read would truncate
    * the recorded name, the prefix check would reject it, and the
    * marker would be consumed as corrupt, leaking the kept copy until
    * the age sweep. Names are tiny; 256 bytes bounds any real marker.
    */
  private def readKeptMarker(fs: org.apache.hadoop.fs.FileSystem,
      kept: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(kept)
    try {
      val buf = new Array[Byte](256)
      var off = 0
      var n = in.read(buf, off, buf.length - off)
      while (n > 0 && off + n < buf.length) {
        off += n
        n = in.read(buf, off, buf.length - off)
      }
      if (n > 0) off += n
      new String(buf, 0, off, "UTF-8").trim
    } finally in.close()
  }

  /** Newest modification time at or under `p` (r15 ADVICE): the stale-
    * scratch age gate keys off the RECURSIVE max, not the top-level dir
    * mtime — during a long Spark write the task output lands under
    * `_temporary/` while the `.install-` dir keeps its creation mtime,
    * so a legitimately slow (>1 h) concurrent write would otherwise
    * look age-expired and get swept mid-write. Cost is bounded: scratch
    * trees are one store's part files, and the sweep only recurses into
    * `.install-` siblings (normally none exist).
    */
  private def newestMtime(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Long = {
    val st = fs.getFileStatus(p)
    var mx = st.getModificationTime
    if (st.isDirectory)
      fs.listStatus(p).foreach { c =>
        mx = math.max(mx, newestMtime(fs, c.getPath))
      }
    mx
  }

  /** Reclaim stale install scratch next to store path `p`. Two classes:
    * (a) the recovery copy a prior run's failed swap KEPT — its name is
    * recorded in the `.install-kept` marker, and since the caller holds
    * a complete live store at `p`, that copy is provably stale and is
    * reclaimed regardless of age (the r15 ADVICE leak: a quick rebuild
    * after the failure left the copy younger than the age gate, and the
    * now-valid staleness marker meant no later install ever swept it);
    * (b) any other `.install-` sibling older than 1 h by NEWEST
    * RECURSIVE mtime (see [[newestMtime]]) — an unrecorded leak from a
    * crashed JVM. A sibling younger than the gate could be another
    * JVM's in-flight write for the same path (Verify and Bench can race
    * on a shared store) and is never touched. When NO live store exists
    * at `p` a second-tier 24 h cutoff applies instead (r16, the r15
    * ADVICE: orphans of a never-served store otherwise leaked forever).
    * The marker-recorded kept copy is spared in BOTH tiers (r17, the
    * r16 ADVICE: a concurrent installer failing its swap between the
    * liveness sample and the deletes leaves a kept copy that can
    * already be age-expired by preserved mtimes) — the marker is read
    * at sweep start AND re-validated immediately before each delete,
    * shrinking the race to the single read-vs-delete instant; a racy
    * re-read failure skips that one delete instead of aborting the
    * remaining orphans (r18, the r17 ADVICE). Store-less only, a third
    * class: (c) a DANGLING kept marker — recorded dir gone, marker
    * older than the 24 h gate — is consumed (r18, the r17 ADVICE: it
    * was excluded from sweeping by name and only the live-store branch
    * ever consumed markers, so it leaked forever). Never throws:
    * scratch reclamation must not fail an install or a serve.
    */
  private[sources] def sweepInstallScratch(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Unit = {
    try {
      val kept = keptMarker(p)
      if (fs.exists(kept)) {
        val name = readKeptMarker(fs, kept)
        // the recorded name is installer-generated (`<store>.install-<8
        // hex>`); the prefix check keeps a corrupt marker from ever
        // deleting something that is not this store's install scratch.
        // The live store is re-checked IMMEDIATELY before the delete
        // (r15 review): between the caller's staleness check and this
        // sweep, a concurrent installer can move the live store aside
        // and fail ITS swap — at which point the recorded copy may be
        // the freshest complete data again and must survive (marker
        // kept too, so a later healthy serve retries the reclaim).
        if (name.startsWith(s"${p.getName}.install-")) {
          if (fs.exists(p)) {
            val dir = new org.apache.hadoop.fs.Path(p.getParent, name)
            if (fs.exists(dir)) fs.delete(dir, true)
            fs.delete(kept, false)
          }
        } else fs.delete(kept, false) // corrupt marker: consume, touch nothing
      }
    } catch { case e: Throwable =>
      System.err.println(s"install kept-copy sweep ($p): $e") }
    sweepAgedSiblings(fs, p)
  }

  /** The age-tier half of [[sweepInstallScratch]], split out (r17) so
    * the mid-race state — live store present AND a kept marker written
    * by a concurrent installer AFTER the kept-copy branch above ran —
    * is directly constructible in a spec. Never throws.
    */
  private[graft] def sweepAgedSiblings(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Unit = {
    try {
      val parent = p.getParent
      if (parent != null && fs.exists(parent)) {
        val live = fs.exists(p)
        // like the kept-copy branch, the 1 h sweep only runs beside a
        // LIVE store (r15 review): in the mid-recovery state (store
        // moved aside by a failed concurrent swap) an aged sibling can
        // be the freshest complete copy, and reclamation can always
        // wait for the next healthy serve/install. Second tier (r16,
        // the r15 ADVICE): without a live store the sweep previously
        // never ran, so scratch from a crashed build of a store that
        // is never served again leaked under /tmp forever. A DAY-old
        // sibling cannot be an in-flight write (the recovery window is
        // minutes), so it sweeps even store-less — EXCEPT the
        // marker-recorded kept copy, which in that state may be the
        // freshest complete data and keeps waiting for the next
        // healthy serve/install (the marker survives with it).
        val cutoff = System.currentTimeMillis() -
          (if (live) 3600L * 1000 else 24L * 3600 * 1000)
        // marker re-read UNCONDITIONALLY, live or not (r17, the r16
        // ADVICE): `live` was sampled above, and a concurrent
        // installer's swap can fail between that sample and the deletes
        // below — its just-kept recovery copy can already exceed the 1 h
        // gate by recursive mtime (rename preserves file mtimes), so the
        // live tier would sweep it and leave a dangling marker. The
        // kept-copy branch of sweepInstallScratch normally consumed
        // marker + copy when live, so a marker existing HERE is exactly
        // the race window; excluding its recorded name costs one
        // exists+read per sweep.
        val km = keptMarker(p)
        def recordedKept(): Option[String] =
          if (fs.exists(km)) Some(readKeptMarker(fs, km)).filter(_.nonEmpty)
          else None
        val keptName = recordedKept()
        // dangling-marker reclamation (r18, the r17 ADVICE): a marker
        // whose recorded directory no longer exists is excluded from the
        // sibling sweep by name forever and is only consumed by the
        // kept-copy branch when a LIVE store exists — in the store-less
        // tier a stale marker file would persist indefinitely. A DAY-old
        // marker with no recorded dir cannot belong to an in-flight
        // install (the same argument as the store-less sibling tier), so
        // consume it here; a younger one may be mid-race (its dir moving
        // or another sweep consuming) and waits. Failure-isolated: a
        // racy marker/dir read must not abort the sibling sweep below.
        // Residual race (r19, the r18 ADVICE inventory note): the
        // mtime read → fs.delete pair is non-atomic — a concurrent
        // installer rewriting THIS marker between the two loses its
        // fresh marker, leaving its kept copy unprotected until the
        // 24 h store-less sweep. Same single read-vs-delete instant
        // the per-delete re-validation below already accepts, and only
        // a diagnosis marker is at stake; accepted, not closed.
        if (!live) keptName.foreach { n =>
          try {
            val dir = new org.apache.hadoop.fs.Path(parent, n)
            if (!fs.exists(dir) &&
                fs.getFileStatus(km).getModificationTime < cutoff) {
              fs.delete(km, false); ()
            }
          } catch { case e: Throwable =>
            System.err.println(s"dangling kept-marker sweep ($km): $e") }
        }
        fs.listStatus(parent)
          .filter { st =>
            val n = st.getPath.getName
            n.startsWith(s"${p.getName}.install-") &&
              n != km.getName && !keptName.contains(n)
          }
          // per-sibling guard (r16 review): a sibling another JVM
          // consumes between listStatus and the recursive stat throws
          // FileNotFound — already-reclaimed, skip it rather than
          // aborting the sweep of the remaining aged orphans
          .filter(st =>
            try newestMtime(fs, st.getPath) < cutoff
            catch { case _: java.io.FileNotFoundException => false })
          // marker re-validated at the LAST instant (r17 review): the
          // recursive mtime walk above can take seconds on a large
          // scratch tree, and a swap failing INSIDE that window records
          // a kept copy the sweep-start read missed. Deletes are rare
          // (normally zero), so the extra exists+read per delete is
          // free; the residual window is the single read-vs-delete
          // instant, not the whole walk.
          .foreach { st =>
            // a read failure here is treated as "marker present" for
            // THIS sibling only (r18, the r17 ADVICE): a concurrent
            // sweep can consume the marker between fs.exists and the
            // read, and letting the throw reach the outer catch would
            // abort deletion of all remaining aged orphans — the same
            // mid-iteration failure mode the r16 per-sibling mtime
            // guard closed. Skipping one delete is always safe (the
            // next sweep retries); the loop continues.
            val keptNow =
              try recordedKept()
              catch { case e: Throwable =>
                // logged (r18 review): a DURABLE read failure (perms,
                // corruption) skips every delete on every sweep — that
                // must stay diagnosable from stderr, not silent
                System.err.println(
                  s"aged-orphan marker re-read (${st.getPath}): $e")
                Some(st.getPath.getName)
              }
            if (!keptNow.contains(st.getPath.getName))
              fs.delete(st.getPath, true)
          }
      }
    } catch { case e: Throwable =>
      System.err.println(s"install stale-scratch sweep ($p): $e") }
  }

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
    // Scratch sweep on BOTH branches, before any build (r16, the r15
    // ADVICE): the valid-branch-only sweep meant a store whose build
    // keeps crashing — never valid, never successfully installed —
    // accumulated orphan `.install-` scratch forever. The sweep's
    // store-less second-tier 24 h gate makes the pre-build call safe:
    // a failed prior build's day-old orphans reclaim here, while any
    // fresh sibling (or the marker-recorded kept copy) survives. On
    // the valid path this is the serve-time sweep that closes the r15
    // kept-copy leak. Guarded + metadata-only (one listStatus per
    // store path, recursion only into `.install-` siblings, which
    // normally don't exist).
    try {
      val conf = org.apache.spark.sql.SparkSession.getActiveSession
        .map(_.sparkContext.hadoopConfiguration)
        .getOrElse(new org.apache.hadoop.conf.Configuration())
      storePaths.foreach { sp =>
        val p = new org.apache.hadoop.fs.Path(
          new java.io.File(sp).getAbsolutePath)
        sweepInstallScratch(p.getFileSystem(conf), p)
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
